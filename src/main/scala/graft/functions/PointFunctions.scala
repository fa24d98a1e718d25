package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BitwiseAnd, Expression, Generator, Literal, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

import graft.core.Point
import graft.sources.PointCodec

/** Custom Catalyst expressions for the point wire format and unsigned
  * arithmetic — native expressions (not Scala UDFs) so the hot path stays
  * inside whole-stage codegen with no serialization boundary.
  */

/** `unsigned_mod(a, n)`: Word64 remainder — `Long.remainderUnsigned` with
  * full codegen. The reference's `placeBucket` hash (`Core.hs:272-276`)
  * needs unsigned semantics; Spark's `pmod` would mis-bucket addresses with
  * the top bit set.
  */
case class UnsignedMod(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  // accept any integral child type (SQL integer literals arrive as Int;
  // Java's remainderUnsigned widens in codegen the same way)
  private def toL(v: Any): Long = v match {
    case l: Long => l; case i: Int => i.toLong
    case s: Short => s.toLong; case b: Byte => b.toLong
  }
  override def nullSafeEval(a: Any, n: Any): Any =
    java.lang.Long.remainderUnsigned(toL(a), toL(n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = java.lang.Long.remainderUnsigned($a, $n);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `decode_points(bin)`: generator emitting one row
  * `(address, time, payload, value)` per point in a mixed wire blob — the
  * Spark-SQL surface of the reference's `groupMixed` parse phase
  * (`Algorithms.hs:111-186`). Malformed blobs raise, like `InvalidPayload`
  * (`Core.hs:278-287`).
  */
case class DecodePoints(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {
  override def elementSchema: StructType = Point.schema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val blob = child.eval(input).asInstanceOf[Array[Byte]]
    if (blob == null) Iterator.empty
    else PointCodec.decode(blob) match {
      case Left(err) => throw new IllegalArgumentException(s"invalid payload: $err")
      case Right(ps) => ps.iterator.map(p =>
        InternalRow(p.address, p.time, p.payload, p.value))
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object PointFunctions {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Unsigned Long comparisons via sign-bit flip: `a ^ Long.MinValue`
    * reorders unsigned values into signed order, so the comparison itself
    * stays a codegen'd built-in. Needed because times/addresses are Word64
    * (e.g. the reference's `maxBound` read bound maps to -1L). */
  private def flip(c: Column): Column =
    c.bitwiseXOR(org.apache.spark.sql.functions.lit(Long.MinValue))
  def unsignedGt(a: Column, b: Column): Column = flip(a) > flip(b)
  def unsignedGte(a: Column, b: Column): Column = flip(a) >= flip(b)
  def unsignedLte(a: Column, b: Column): Column = flip(a) <= flip(b)

  /** Column form of `placeBucket` (`Core.hs:272-276`): clear bit 0, unsigned
    * mod bucket count. */
  def placeBucket(addr: Column, buckets: Column): Column =
    ColumnBridge.column(UnsignedMod(
      BitwiseAnd(expr(addr), Literal(-2L)), expr(buckets.cast("long"))))
}
