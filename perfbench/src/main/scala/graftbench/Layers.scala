package graftbench

import scala.collection.mutable

/** Splits the traced phase's ops into layers, measured from outside:
  *  - Spark scheduler: the jobs carrying the op's local property and
  *    starting inside its window, their tasks, and the op's wall time
  *    outside the union of those jobs' intervals;
  *  - Catalyst: phase times of the query executions that started inside
  *    the op's window (only one Spark-issuing op is in flight at a time in
  *    every workload: the store writer's ops are driver-local);
  *  - self time per public call: each span's duration minus its children.
  * Per-op figures are means over the traced ops, so the self-time parts of
  * an op add up to its mean wall time. */
object Layers {

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def report(wl: Workload, traced: Seq[OpSample], spans: Seq[Span],
             probe: SparkProbe, untracedRate: Double,
             tracedRate: Double): Map[String, Any] = {
    val jobs = probe.allJobs
    val qes = probe.qes.toArray(Array.empty[probe.Qe]).toSeq
    val unattributed = jobs.count(_.op.isEmpty)

    final case class OpLayers(wallMs: Double, jobs: Int, tasks: Long,
                              jobsMs: Double, task: Array[Long],
                              analysis: Long, optimization: Long,
                              planning: Long, queries: Int, compiles: Long)

    def layersOf(s: OpSample): OpLayers = {
      val mine = jobs.filter(j => j.op.contains(s.op) &&
        j.startMs >= s.startMs && j.startMs <= s.endMs)
      val task = new Array[Long](SparkProbe.TaskFields.size)
      mine.foreach(j => j.m.synchronized {
        j.m.indices.foreach(i => task(i) += j.m(i))
      })
      val jobsMs = Stats.unionLength(
        mine.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs).toDouble
      val q = if (wl.openOps.contains(s.op)) Nil
        else qes.filter(x => x.startMs >= s.startMs && x.startMs <= s.endMs)
      OpLayers((s.endMs - s.startMs).toDouble, mine.size,
        mine.map(_.tasks.get).sum, jobsMs, task,
        q.map(_.analysis).sum, q.map(_.optimization).sum,
        q.map(_.planning).sum, q.size, math.max(0L, s.compiles))
    }

    val perSample = traced.map(s => s -> layersOf(s))

    // self time per span name, per op instance
    val byOpId = spans.groupBy(_.opId)
    val selfRows = mutable.Map[String, mutable.Map[String, Double]]()
    byOpId.values.foreach { ss =>
      val root = ss.find(_.parent < 0)
      root.foreach { r =>
        val kids = ss.groupBy(_.parent)
        ss.foreach { sp =>
          val ch = kids.getOrElse(sp.id, Nil).map(c => (c.startNs, c.endNs))
          val self = (sp.endNs - sp.startNs -
            Stats.unionLength(ch, sp.startNs, sp.endNs)) / 1e6
          val label = if (sp.parent < 0) "(op body: harness)" else sp.name
          val row = selfRows.getOrElseUpdate(r.name, mutable.LinkedHashMap())
          row(label) = row.getOrElse(label, 0.0) + self
        }
      }
    }

    val ops = (wl.closedOps ++ wl.openOps).flatMap { op =>
      val ls = perSample.filter(_._1.op == op).map(_._2)
      if (ls.isEmpty) None
      else {
        val f = SparkProbe.TaskFields
        Some(op -> Json.obj(
          "n" -> ls.size,
          "wall_ms" -> mean(ls.map(_.wallMs)),
          "jobs" -> mean(ls.map(_.jobs.toDouble)),
          "tasks" -> mean(ls.map(_.tasks.toDouble)),
          "jobs_ms" -> mean(ls.map(_.jobsMs)),
          "outside_jobs_ms" -> mean(ls.map(l => l.wallMs - l.jobsMs)),
          "analysis_ms" -> mean(ls.map(_.analysis.toDouble)),
          "optimization_ms" -> mean(ls.map(_.optimization.toDouble)),
          "planning_ms" -> mean(ls.map(_.planning.toDouble)),
          "queries" -> mean(ls.map(_.queries.toDouble)),
          "codegen_compiles" -> mean(ls.map(_.compiles.toDouble)),
          "task" -> f.indices.map(i =>
            f(i) -> mean(ls.map(_.task(i).toDouble))).toMap,
          "self_ms" -> selfRows.getOrElse(op, mutable.Map.empty)
            .map { case (k, v) => k -> v / ls.size }))
      }
    }

    // BENCHMARK.json's per-layer metrics: means over every traced op, so
    // each is measured in every workload (the per-op tables above carry the
    // per-op split; unattributed jobs, 0 while attribution works, are in
    // the detail).
    val all = perSample.map(_._2)
    def perOp(f: OpLayers => Double) = mean(all.map(f))
    def taskPerOp(k: String) =
      perOp(_.task(SparkProbe.TaskFields.indexOf(k)).toDouble)
    val contract = Json.obj(
      "spark.jobs_per_op" -> perOp(_.jobs.toDouble),
      "spark.tasks_per_op" -> perOp(_.tasks.toDouble),
      "spark.task_ms_per_op" -> taskPerOp("task_ms"),
      "spark.jobs_ms_per_op" -> perOp(_.jobsMs),
      "spark.outside_jobs_ms_per_op" -> perOp(l => l.wallMs - l.jobsMs),
      "jvm.gc_ms_per_op" -> probe.jvmGcMs.toDouble / math.max(1, all.size),
      "catalyst.analysis_ms_per_op" -> perOp(_.analysis.toDouble),
      "catalyst.optimization_ms_per_op" -> perOp(_.optimization.toDouble),
      "catalyst.planning_ms_per_op" -> perOp(_.planning.toDouble),
      "catalyst.queries_per_op" -> perOp(_.queries.toDouble),
      "codegen.compiles_per_op" -> perOp(_.compiles.toDouble),
      "io.input_bytes_per_op" -> taskPerOp("input_bytes"),
      "io.input_records_per_op" -> taskPerOp("input_records"),
      "io.shuffle_read_bytes_per_op" -> taskPerOp("shuffle_read_bytes"),
      "io.shuffle_write_bytes_per_op" -> taskPerOp("shuffle_write_bytes"),
      "jvm.heap_used_mb_max" -> probe.heapUsedMbMax,
      "trace.ops_per_s_untraced" -> untracedRate,
      "trace.ops_per_s_traced" -> tracedRate,
      "trace.overhead_ratio" ->
        (if (tracedRate > 0) untracedRate / tracedRate else 0.0))

    Map("metrics" -> contract, "ops" -> ops.toMap,
      "spark.jobs_unattributed" -> unattributed,
      "workload" -> wl.layerDetail(traced, probe),
      "spans_recorded" -> spans.size, "jobs_seen" -> jobs.size)
  }
}
