package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd vector-quantization kernels with the MODEL MATRIX as a
  * reference object (optimization round r16).
  *
  * The literal-path assignment/probe expressions used to embed the centroid
  * matrix as k×dim scalar literal terms (`cellScoreArrayOf`,
  * `lshSignature`'s plane arrays, the PQ distance folds). Scalar double
  * literals print into the generated SOURCE, so every trainer iteration —
  * whose centroid values differ — produced a UNIQUE whole-stage-codegen
  * class: a JobProfile thread-dump of `ann_imi_index_append` showed 31 of
  * 32 executor threads parked in `CodeGenerator.compile`'s KeyLock while
  * one compiled the iteration's class, ~0.5 s of wall per trainer stage at
  * any data size (guide §1.1 empirical loop; §2 "per-task work"). Here the
  * matrix rides `ctx.addReferenceObj` — the generated source is
  * VALUE-independent and SHAPE-independent (one tight loop, `references[i]`
  * lookups), so all iterations of all trainers share ONE compiled class,
  * and the plan is O(1) in k·dim instead of O(k·dim) literal terms (the
  * same blow-up `BpeEncodeWords` killed for merge lists, and
  * [[Similarity.CellLiteralBudget]] exists to dodge — kernels render the
  * dodge unnecessary well past the old budget).
  *
  * BIT-EXACTNESS CONTRACT (the gates hash-pin every trajectory): each
  * kernel reproduces the column expression it replaces operation for
  * operation —
  *   - dots are ascending-index `s += x(i)·c(i)` folds ([[DotProductD]]'s
  *     loop, which is also the DuckDB twins' `list_dot_product` order);
  *   - L2² is the dot identity `(v·v − 2.0·(v·c)) + cc` with `cc` the
  *     ascending self-dot, evaluated in exactly that association;
  *   - per-component PQ distances are the left-associated `Σ (x−c)²` fold;
  *   - arg-min/arg-max scan ascending with STRICT comparison — ties pin to
  *     the lowest index, matching `array_position(max)` / struct-ordered
  *     `array_min`/`max_by` tie rules;
  *   - probe fan-out orders by (−score ASC, cell ASC) via
  *     `Double.compare(−a, −b)` — the `sort_array(struct(ns, cell))`
  *     ordering bit for bit (including the ±0.0 corner);
  *   - LSH bits test `d >= 0.0` as a Java primitive comparison, the
  *     codegen'd `GreaterThanOrEqual` semantics.
  * Float inputs widen per element exactly like `transform(_, cast double)`.
  *
  * NaN assumption (ADVICE r16): the strict `>`/`<` arg-scans pin to the
  * LEADING candidate when a score is NaN (every strict comparison against
  * NaN is false), where `array_max`/`array_position` and struct-ordered
  * `array_min` treat NaN as the largest value. Quantizer scores are dots /
  * squared distances of finite model and data vectors, which cannot
  * produce NaN from finite inputs — a NaN/Inf INPUT vector is a data-
  * contract break upstream of these kernels, not a tie-rule case. PQ
  * kernels FAIL FAST on vectors shorter than the subs×ds layout (the old
  * `element_at` column forms errored under ANSI; `UnsafeArrayData.getDouble`
  * has no bounds check, so reading past the end would silently score
  * garbage).
  */
object QuantKernels {

  /** PQ layout guard — see the NaN/short-vector contract note above. */
  @inline private def checkLen(a: ArrayData, need: Int): Unit =
    if (a.numElements() < need)
      throw new IllegalArgumentException(
        s"vector of ${a.numElements()} elements is shorter than the PQ " +
          s"layout's $need (subs x ds)")

  /** Ascending self-dot — the same fold as `Similarity.selfDot`. */
  def selfDot(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** dot(vec, cent) over min(len) elements, ascending. */
  def dotC(a: ArrayData, isFloat: Boolean, c: Array[Double]): Double = {
    val n = math.min(a.numElements(), c.length)
    var s = 0.0; var i = 0
    while (i < n) { s += elem(a, i, isFloat) * c(i); i += 1 }
    s
  }

  private def dotSelfArr(a: ArrayData, isFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val x = elem(a, i, isFloat); s += x * x; i += 1 }
    s
  }

  /** argmax of dot over all cells; ties → lowest cell. */
  def argMaxDot(a: ArrayData, isFloat: Boolean,
                cents: Array[Array[Double]]): Int = {
    var best = 0; var bestS = dotC(a, isFloat, cents(0))
    var c = 1
    while (c < cents.length) {
      val s = dotC(a, isFloat, cents(c))
      if (s > bestS) { best = c; bestS = s }
      c += 1
    }
    best
  }

  /** argmin of `(v·v − 2·(v·c)) + cc` over all cells; ties → lowest. */
  def argMinL2(a: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
               ccs: Array[Double]): Int = {
    val vv = dotSelfArr(a, isFloat)
    var best = 0
    var bestD = vv - 2.0 * dotC(a, isFloat, cents(0)) + ccs(0)
    var c = 1
    while (c < cents.length) {
      val d = vv - 2.0 * dotC(a, isFloat, cents(c)) + ccs(c)
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Two-level assignment, fine rule = argmax DOT within the coarse
    * group's slice (the `semanticAssign2Level` literal rule): global cell
    * id = grp·gs + local argmax, ties → lowest local cell. */
  def imiAssignDot(a: ArrayData, isFloat: Boolean,
                   coarse: Array[Array[Double]], fine: Array[Array[Double]],
                   gs: Int): Int = {
    val g = argMaxDot(a, isFloat, coarse)
    val base = g * gs
    var best = 0; var bestS = dotC(a, isFloat, fine(base))
    var c = 1
    while (c < gs) {
      val s = dotC(a, isFloat, fine(base + c))
      if (s > bestS) { best = c; bestS = s }
      c += 1
    }
    base + best
  }

  /** Two-level assignment, fine rule = argmin L2² within the coarse
    * group's slice (the `imiTrain` fine-iteration rule): ties → lowest. */
  def imiAssignL2(a: ArrayData, isFloat: Boolean,
                  coarse: Array[Array[Double]], fine: Array[Array[Double]],
                  ccs: Array[Double], gs: Int): Int = {
    val g = argMaxDot(a, isFloat, coarse)
    val base = g * gs
    val vv = dotSelfArr(a, isFloat)
    var best = 0
    var bestD = vv - 2.0 * dotC(a, isFloat, fine(base)) + ccs(base)
    var c = 1
    while (c < gs) {
      val d = vv - 2.0 * dotC(a, isFloat, fine(base + c)) + ccs(base + c)
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    base + best
  }

  /** Top-`nprobe` cells by (dot DESC, cell ASC) — exactly the
    * `sort_array(struct(-score, cell))` ordering: keys compare as
    * `Double.compare(−a, −b)`, then cell ascending. */
  def topCellsByDot(a: ArrayData, isFloat: Boolean,
                    cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val k = cents.length
    val neg = new Array[Double](k)
    var c = 0
    while (c < k) { neg(c) = -dotC(a, isFloat, cents(c)); c += 1 }
    val idx = new Array[Int](k)
    c = 0; while (c < k) { idx(c) = c; c += 1 }
    // selection of the nprobe smallest (−score, cell) pairs, stable in cell
    val take = math.min(nprobe, k)
    val out = new Array[Int](take)
    var t = 0
    while (t < take) {
      var best = t
      var j = t + 1
      while (j < k) {
        val cmp = java.lang.Double.compare(neg(idx(j)), neg(idx(best)))
        if (cmp < 0 || (cmp == 0 && idx(j) < idx(best))) best = j
        j += 1
      }
      val tmp = idx(t); idx(t) = idx(best); idx(best) = tmp
      out(t) = idx(t)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** IMI probe fan-out, row-local: top-`npg` coarse groups by
    * (dot DESC, grp ASC) — the `row_number() over (score DESC, grp)` total
    * order, i.e. `Double.compare` descending with ties to the lower id —
    * then top-`npc` fine cells by (dot DESC, cell ASC) over ONLY the
    * selected groups' cell ranges. Returns the probed cell ids. */
  def imiTopCells(a: ArrayData, isFloat: Boolean,
                  coarse: Array[Array[Double]], fine: Array[Array[Double]],
                  gs: Int, npg: Int, npc: Int): ArrayData = {
    val groups = coarse.length
    val gScore = new Array[Double](groups)
    var g = 0
    while (g < groups) { gScore(g) = dotC(a, isFloat, coarse(g)); g += 1 }
    val gIdx = Array.tabulate(groups)(identity)
    val takeG = math.min(npg, groups)
    var t = 0
    while (t < takeG) {
      var best = t
      var j = t + 1
      while (j < groups) {
        val cmp = java.lang.Double.compare(gScore(gIdx(best)), gScore(gIdx(j)))
        if (cmp < 0 || (cmp == 0 && gIdx(j) < gIdx(best))) best = j
        j += 1
      }
      val tmp = gIdx(t); gIdx(t) = gIdx(best); gIdx(best) = tmp
      t += 1
    }
    // candidate cells: the selected groups' ranges
    val nCand = takeG * gs
    val cCell = new Array[Int](nCand)
    val cScore = new Array[Double](nCand)
    var i = 0
    t = 0
    while (t < takeG) {
      val base = gIdx(t) * gs
      var c = 0
      while (c < gs) {
        cCell(i) = base + c
        cScore(i) = dotC(a, isFloat, fine(base + c))
        c += 1
        i += 1
      }
      t += 1
    }
    val cIdx = Array.tabulate(nCand)(identity)
    val takeC = math.min(npc, nCand)
    val out = new Array[Int](takeC)
    t = 0
    while (t < takeC) {
      var best = t
      var j = t + 1
      while (j < nCand) {
        val cmp = java.lang.Double.compare(cScore(cIdx(best)), cScore(cIdx(j)))
        if (cmp < 0 || (cmp == 0 && cCell(cIdx(j)) < cCell(cIdx(best)))) best = j
        j += 1
      }
      val tmp = cIdx(t); cIdx(t) = cIdx(best); cIdx(best) = tmp
      out(t) = cCell(cIdx(t))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** One-Long LSH signature: bit p set iff dot(vec, plane_p) >= 0.0. */
  def lshSig(a: ArrayData, isFloat: Boolean,
             planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      if (dotC(a, isFloat, planes(p)) >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Per-subspace squared distance — `identity=false`: the left-associated
    * `Σ (x−c)²` component fold (`pqCodes`' untrained form); `true`: the dot
    * identity over the subvector slice (`trainedSubDist`'s form), `cc`
    * passed in. */
  @inline private def subDist(a: ArrayData, isFloat: Boolean,
                              book: Array[Double], off: Int, ds: Int,
                              identity: Boolean, cc: Double): Double =
    if (identity) {
      var xx = 0.0; var xc = 0.0; var d = 0
      while (d < ds) {
        val x = elem(a, off + d, isFloat)
        xx += x * x; xc += x * book(d); d += 1
      }
      xx - 2.0 * xc + cc
    } else {
      var acc = 0.0; var d = 0
      while (d < ds) {
        val t = elem(a, off + d, isFloat) - book(d)
        acc += t * t; d += 1
      }
      acc
    }

  /** argmin centroid of ONE subspace (ties → lowest code). */
  def pqCodeAt(a: ArrayData, isFloat: Boolean,
               books: Array[Array[Array[Double]]], ccs: Array[Array[Double]],
               identity: Boolean, s: Int, ds: Int): Int = {
    checkLen(a, (s + 1) * ds)
    val bs = books(s)
    val off = s * ds
    var best = 0
    var bestD = subDist(a, isFloat, bs(0), off, ds, identity,
      if (identity) ccs(s)(0) else 0.0)
    var c = 1
    while (c < bs.length) {
      val d = subDist(a, isFloat, bs(c), off, ds, identity,
        if (identity) ccs(s)(c) else 0.0)
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Packed mixed-radix code word: Σ_s code_s · ksub^s (exact longs). */
  def pqPacked(a: ArrayData, isFloat: Boolean,
               books: Array[Array[Array[Double]]], ccs: Array[Array[Double]],
               identity: Boolean, ds: Int): Long = {
    val subs = books.length
    checkLen(a, subs * ds)
    val ksub = books(0).length
    var packed = 0L
    var w = 1L
    var s = 0
    while (s < subs) {
      packed += pqCodeAt(a, isFloat, books, ccs, identity, s, ds).toLong * w
      w *= ksub
      s += 1
    }
    packed
  }

  /** Total reconstruction error: left-assoc Σ_s min_c dist(s, c) —
    * `pqCodes`' `least(dists)` per subspace summed in subspace order. */
  def pqReconErr(a: ArrayData, isFloat: Boolean,
                 books: Array[Array[Array[Double]]],
                 ccs: Array[Array[Double]], identity: Boolean,
                 ds: Int): Double = {
    val subs = books.length
    checkLen(a, subs * ds)
    var err = 0.0
    var s = 0
    while (s < subs) {
      val bs = books(s)
      val off = s * ds
      var mn = subDist(a, isFloat, bs(0), off, ds, identity,
        if (identity) ccs(s)(0) else 0.0)
      var c = 1
      while (c < bs.length) {
        val d = subDist(a, isFloat, bs(c), off, ds, identity,
          if (identity) ccs(s)(c) else 0.0)
        if (d < mn) mn = d
        c += 1
      }
      err += mn
      s += 1
    }
    err
  }

  /** Probe-side ADC table: subs×ksub distances in (s, c) row order —
    * `pqDistTable`/`trainedDtab`'s layout. */
  def pqDistTable(a: ArrayData, isFloat: Boolean,
                  books: Array[Array[Array[Double]]],
                  ccs: Array[Array[Double]], identity: Boolean,
                  ds: Int): ArrayData = {
    val subs = books.length
    checkLen(a, subs * ds)
    val ksub = books(0).length
    val out = new Array[Double](subs * ksub)
    var s = 0
    while (s < subs) {
      val bs = books(s)
      val off = s * ds
      var c = 0
      while (c < ksub) {
        out(s * ksub + c) = subDist(a, isFloat, bs(c), off, ds, identity,
          if (identity) ccs(s)(c) else 0.0)
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Value-compared holder for a kernel's 2-level model matrix (ADVICE r16):
  * a case-class field of raw `Array` type compares by REFERENCE, so two
  * structurally identical kernel expressions never canonicalized equal —
  * subexpression elimination, exchange reuse and plan-cache hits were
  * silently defeated for repeated model matrices where the old literal
  * forms deduped by value. `deepEquals`/`deepHashCode` restore value
  * comparison; `m` is the raw array the kernels loop over (never copied,
  * never mutated after construction — so the k×dim hash is computed once,
  * not on every plan-cache or canonicalization lookup).
  * toString is shape-only so plans render stably instead of as an array
  * identity hash. */
final class Mat2(val m: Array[Array[Double]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case r: Mat2 => java.util.Arrays.deepEquals(
      m.asInstanceOf[Array[AnyRef]], r.m.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  private lazy val hash =
    java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
  override def hashCode: Int = hash
  override def toString: String =
    s"mat[${m.length}x${m.headOption.map(_.length).getOrElse(0)}]"
}

/** [[Mat2]] for the PQ families' 3-level codebooks. */
final class Mat3(val m: Array[Array[Array[Double]]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case r: Mat3 => java.util.Arrays.deepEquals(
      m.asInstanceOf[Array[AnyRef]], r.m.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  private lazy val hash =
    java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
  override def hashCode: Int = hash
  override def toString: String =
    s"books[${m.length}x${m.headOption.map(_.length).getOrElse(0)}" +
      s"x${m.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)}]"
}

/** Shared plumbing: a unary kernel over an `array<float|double>` column. */
sealed abstract class QuantKernelExpr extends UnaryExpression {
  protected final def isFloatChild: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantizer kernels require array<float|double>, got " +
            other.simpleString)
    }
}

case class ArgMaxDotCells(child: Expression, cents: Mat2)
    extends QuantKernelExpr {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.argMaxDot(input.asInstanceOf[ArrayData], isFloatChild, cents.m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cents", cents.m, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.argMaxDot($a, $isFloatChild, $m);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ArgMinL2Cells(child: Expression, cents: Mat2)
    extends QuantKernelExpr {
  override def dataType: DataType = IntegerType
  @transient private lazy val ccs = cents.m.map(QuantKernels.selfDot)
  override def nullSafeEval(input: Any): Any =
    QuantKernels.argMinL2(input.asInstanceOf[ArrayData], isFloatChild, cents.m, ccs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cents", cents.m, "double[][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.argMinL2($a, $isFloatChild, $m, $cc);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ImiAssignDotCells(child: Expression, coarse: Mat2,
                             fine: Mat2, groupSize: Int)
    extends QuantKernelExpr {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.imiAssignDot(input.asInstanceOf[ArrayData], isFloatChild,
      coarse.m, fine.m, groupSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("coarse", coarse.m, "double[][]")
    val fi = ctx.addReferenceObj("fine", fine.m, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.imiAssignDot($a, " +
        s"$isFloatChild, $co, $fi, $groupSize);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ImiAssignL2Cells(child: Expression, coarse: Mat2,
                            fine: Mat2, groupSize: Int)
    extends QuantKernelExpr {
  override def dataType: DataType = IntegerType
  @transient private lazy val ccs = fine.m.map(QuantKernels.selfDot)
  override def nullSafeEval(input: Any): Any =
    QuantKernels.imiAssignL2(input.asInstanceOf[ArrayData], isFloatChild,
      coarse.m, fine.m, ccs, groupSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("coarse", coarse.m, "double[][]")
    val fi = ctx.addReferenceObj("fine", fine.m, "double[][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.imiAssignL2($a, " +
        s"$isFloatChild, $co, $fi, $cc, $groupSize);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class TopCellsByDot(child: Expression, cents: Mat2,
                         nprobe: Int) extends QuantKernelExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    QuantKernels.topCellsByDot(input.asInstanceOf[ArrayData], isFloatChild,
      cents.m, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cents", cents.m, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.topCellsByDot($a, " +
        s"$isFloatChild, $m, $nprobe);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ImiTopCellsExpr(child: Expression, coarse: Mat2,
                           fine: Mat2, groupSize: Int,
                           nprobeGroups: Int, nprobeCells: Int)
    extends QuantKernelExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    QuantKernels.imiTopCells(input.asInstanceOf[ArrayData], isFloatChild,
      coarse.m, fine.m, groupSize, nprobeGroups, nprobeCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("coarse", coarse.m, "double[][]")
    val fi = ctx.addReferenceObj("fine", fine.m, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.imiTopCells($a, " +
        s"$isFloatChild, $co, $fi, $groupSize, $nprobeGroups, $nprobeCells);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LshSigBits(child: Expression, planes: Mat2)
    extends QuantKernelExpr {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.lshSig(input.asInstanceOf[ArrayData], isFloatChild, planes.m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planes", planes.m, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.lshSig($a, $isFloatChild, $m);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

sealed abstract class PqKernelExpr extends QuantKernelExpr {
  def books: Mat3
  def identityForm: Boolean
  protected final def ds: Int = books.m(0)(0).length
  @transient protected final lazy val ccs: Array[Array[Double]] =
    books.m.map(_.map(QuantKernels.selfDot))
}

case class PqPackedCode(child: Expression, books: Mat3,
                        identityForm: Boolean) extends PqKernelExpr {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.pqPacked(input.asInstanceOf[ArrayData], isFloatChild,
      books.m, ccs, identityForm, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books.m, "double[][][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.pqPacked($a, " +
        s"$isFloatChild, $b, $cc, $identityForm, $ds);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqReconError(child: Expression, books: Mat3,
                        identityForm: Boolean) extends PqKernelExpr {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.pqReconErr(input.asInstanceOf[ArrayData], isFloatChild,
      books.m, ccs, identityForm, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books.m, "double[][][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.pqReconErr($a, " +
        s"$isFloatChild, $b, $cc, $identityForm, $ds);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqCodeAtSub(child: Expression, books: Mat3,
                       identityForm: Boolean, s: Int) extends PqKernelExpr {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    QuantKernels.pqCodeAt(input.asInstanceOf[ArrayData], isFloatChild,
      books.m, ccs, identityForm, s, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books.m, "double[][][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.pqCodeAt($a, " +
        s"$isFloatChild, $b, $cc, $identityForm, $s, $ds);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqAdcTable(child: Expression, books: Mat3,
                      identityForm: Boolean) extends PqKernelExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    QuantKernels.pqDistTable(input.asInstanceOf[ArrayData], isFloatChild,
      books.m, ccs, identityForm, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books.m, "double[][][]")
    val cc = ctx.addReferenceObj("ccs", ccs, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.QuantKernels.pqDistTable($a, " +
        s"$isFloatChild, $b, $cc, $identityForm, $ds);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-level entry points. */
object QuantOps {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def argMaxDot(vec: Column, cents: Array[Array[Double]]): Column =
    col(ArgMaxDotCells(ex(vec), new Mat2(cents)))
  def argMinL2(vec: Column, cents: Array[Array[Double]]): Column =
    col(ArgMinL2Cells(ex(vec), new Mat2(cents)))
  def imiAssignDot(vec: Column, coarse: Array[Array[Double]],
                   fine: Array[Array[Double]], groupSize: Int): Column =
    col(ImiAssignDotCells(ex(vec), new Mat2(coarse), new Mat2(fine), groupSize))
  def imiAssignL2(vec: Column, coarse: Array[Array[Double]],
                  fine: Array[Array[Double]], groupSize: Int): Column =
    col(ImiAssignL2Cells(ex(vec), new Mat2(coarse), new Mat2(fine), groupSize))
  def topCellsByDot(vec: Column, cents: Array[Array[Double]],
                    nprobe: Int): Column =
    col(TopCellsByDot(ex(vec), new Mat2(cents), nprobe))
  def imiTopCells(vec: Column, coarse: Array[Array[Double]],
                  fine: Array[Array[Double]], groupSize: Int,
                  nprobeGroups: Int, nprobeCells: Int): Column =
    col(ImiTopCellsExpr(ex(vec), new Mat2(coarse), new Mat2(fine), groupSize,
      nprobeGroups, nprobeCells))
  def lshSig(vec: Column, planes: Array[Array[Double]]): Column =
    col(LshSigBits(ex(vec), new Mat2(planes)))
  def pqPackedCode(vec: Column, books: Array[Array[Array[Double]]],
                   identityForm: Boolean): Column =
    col(PqPackedCode(ex(vec), new Mat3(books), identityForm))
  def pqReconErr(vec: Column, books: Array[Array[Array[Double]]],
                 identityForm: Boolean): Column =
    col(PqReconError(ex(vec), new Mat3(books), identityForm))
  def pqCodeAt(vec: Column, books: Array[Array[Array[Double]]],
               identityForm: Boolean, s: Int): Column =
    col(PqCodeAtSub(ex(vec), new Mat3(books), identityForm, s))
  def pqAdcTable(vec: Column, books: Array[Array[Array[Double]]],
                 identityForm: Boolean): Column =
    col(PqAdcTable(ex(vec), new Mat3(books), identityForm))
}
