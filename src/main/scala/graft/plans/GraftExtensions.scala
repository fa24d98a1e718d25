package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, ExpressionInfo, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import graft.core.EpochIndex
import graft.functions.{DecodePoints, UnsignedMod}

/** Session extensions (SURVEY §7 custom-Catalyst work):
  *
  *  1. SQL functions `decode_points(bin)` and `unsigned_mod(a, n)` — the
  *     wire-format generator and Word64 remainder become first-class SQL.
  *  2. [[BucketPruneRule]] — the optimizer form of the reference's
  *     `targetObjs` bucket pruning (`StoreHelpers.hs:78-104`): when a query
  *     over a graft points table filters on `address IN (...)`, derive the
  *     `bucket IN (placeBucket image)` predicate from the namespace index
  *     and inject it, so Catalyst's partition pruning skips every bucket
  *     directory no requested address hashes into. The read-path builder
  *     does this statically; the rule extends the same pruning to ad-hoc
  *     SQL over the raw table.
  *
  * Register with the session builder's
  * `withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. The rule
  * discovers indexes via `spark.graft.index.<kind>` session confs
  * (`epoch:buckets` pairs, comma-separated) published by
  * [[graft.sources.TimeStore]] on register/read.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("decode_points"),
      new ExpressionInfo(classOf[DecodePoints].getName, "decode_points"),
      (exprs: Seq[Expression]) => DecodePoints(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("unsigned_mod"),
      new ExpressionInfo(classOf[UnsignedMod].getName, "unsigned_mod"),
      (exprs: Seq[Expression]) => UnsignedMod(exprs(0), exprs(1))))
    e.injectOptimizerRule(spark =>
      BucketPruneRule(key => spark.conf.getOption(key)))
  }
}

object GraftExtensions {
  /** Install into an existing session (spark-shell / shared test JVMs where
    * `spark.sql.extensions` can no longer bind): registers the SQL
    * functions and appends the prune rule to the experimental optimizer
    * batch (which runs late, but before physical planning extracts
    * partition filters — pruning still applies at the scan). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("decode_points",
      exprs => DecodePoints(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("unsigned_mod",
      exprs => UnsignedMod(exprs(0), exprs(1)), "built-in")
    val experimental = spark.experimental
    if (!experimental.extraOptimizations.exists(_.isInstanceOf[BucketPruneRule]))
      experimental.extraOptimizations =
        experimental.extraOptimizations :+ BucketPruneRule(k => spark.conf.getOption(k))
  }
}

/** Inject `bucket IN (...)` partition predicates from `address IN (...)`
  * filters over graft points tables (identified by their kind/epoch/bucket
  * partition columns). Pure plan rewrite — the added predicate is a
  * partition-column filter Catalyst turns into directory pruning before IO.
  */
case class BucketPruneRule(getConf: String => Option[String])
    extends Rule[LogicalPlan] {

  private def parse(s: String): EpochIndex =
    EpochIndex(s.split(',').toVector.map { e =>
      val Array(ep, b) = e.split(':'); (ep.toLong, b.toInt)
    })

  /** Namespace directory + name: the relation root is
    * `<...>/<ns>/points[-gN]`, so both derive from the segment before
    * "/points". */
  private def nsOf(rel: LogicalRelation): Option[(String, String)] =
    rel.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.toString)
          .flatMap { p =>
            val i = p.lastIndexOf("/points")
            if (i <= 0) None
            else {
              val dir = p.substring(0, i)
              Some((dir, dir.split('/').last))
            }
          }
      case _ => None
    }

  /** Fallback when no `spark.graft.index.*` conf is published (a fresh
    * session running ad-hoc SQL before any store read): resolve the index
    * from `<ns>/meta/<kind>Index` via the relation's root path — the same
    * file [[graft.sources.TimeStore.fetchIndex]] reads — and publish it so
    * later queries skip the FS probe. Returns the conf-format string. */
  private def indexFromPath(nsDir: String, ns: String,
                            kind: String): Option[String] =
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      val p = new org.apache.hadoop.fs.Path(s"$nsDir/meta/${kind}Index")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val body =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val compact = body.split('\n').filter(_.nonEmpty).map { l =>
          val Array(e, b) = l.split(','); s"$e:$b"
        }.mkString(",")
        spark.conf.set(s"spark.graft.index.$ns.$kind", compact)
        Some(compact)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if isPointsRelation(rel) && !alreadyPruned(cond) =>
      addressList(cond) match {
        case Some(addrs) if addrs.nonEmpty =>
          val kind = parseKind(cond).getOrElse("simple")
          val idx = nsOf(rel)
            .flatMap { case (dir, ns) =>
              getConf(s"spark.graft.index.$ns.$kind")
                .orElse(indexFromPath(dir, ns, kind))
            }
            .map(parse)
          idx match {
            case Some(index) =>
              val bucketAttr = rel.output.find(_.name == "bucket").get
              val epochAttr = rel.output.find(_.name == "epoch").get
              // partition columns infer as Int for small values — emit
              // literals in the attribute's actual type
              def litFor(dt: org.apache.spark.sql.types.DataType, v: Long): Expression =
                dt match {
                  case org.apache.spark.sql.types.IntegerType => Literal(v.toInt)
                  case _ => Literal(v)
                }
              val pred = index.entries.map { case (epoch, bc) =>
                val buckets = addrs.map(a => EpochIndex.placeBucket(bc, a))
                  .distinct.map(b => litFor(bucketAttr.dataType, b.toLong))
                And(EqualTo(epochAttr, litFor(epochAttr.dataType, epoch)),
                  In(bucketAttr, buckets))
              }.reduceLeft[Expression]((a, b) =>
                org.apache.spark.sql.catalyst.expressions.Or(a, b))
              Filter(And(cond, pred), rel)
            case None => f
          }
        case _ => f
      }
  }

  private def isPointsRelation(rel: LogicalRelation): Boolean = rel.relation match {
    case h: HadoopFsRelation =>
      val parts = h.partitionSchema.fieldNames.toSet
      Set("kind", "epoch", "bucket").subsetOf(parts)
    case _ => false
  }

  /** Collect `address IN (lits)` / `address = lit` from a conjunction. */
  private def addressList(cond: Expression): Option[Seq[Long]] = {
    val found = Vector.newBuilder[Long]
    var hit = false
    cond.foreach {
      case In(a: Attribute, vs) if a.name == "address" && a.dataType == LongType &&
          vs.forall(_.isInstanceOf[Literal]) =>
        hit = true
        vs.foreach { case Literal(v: Long, LongType) => found += v; case _ => }
      case EqualTo(a: Attribute, Literal(v: Long, LongType)) if a.name == "address" =>
        hit = true; found += v
      case EqualTo(Literal(v: Long, LongType), a: Attribute) if a.name == "address" =>
        hit = true; found += v
      case _ =>
    }
    if (hit) Some(found.result().distinct) else None
  }

  private def parseKind(cond: Expression): Option[String] = {
    var kind: Option[String] = None
    cond.foreach {
      case EqualTo(a: Attribute, Literal(v, _)) if a.name == "kind" =>
        kind = Some(String.valueOf(v))
      case _ =>
    }
    kind
  }

  private def alreadyPruned(cond: Expression): Boolean = {
    var pruned = false
    cond.foreach {
      case In(a: Attribute, _) if a.name == "bucket" => pruned = true
      case EqualTo(a: Attribute, _) if a.name == "bucket" => pruned = true
      case _ =>
    }
    pruned
  }
}
