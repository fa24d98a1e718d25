package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload: seeded inputs, a starting state built by [[setup]], and a
  * loop of operations against graft's public API. The generator keeps a
  * model of everything it wrote so every op's output can be checked. */
trait Workload {
  /** The closed-loop op order, repeated for the whole run. A fixed order
    * (with seeded parameters) keeps the op mix identical across seeds. */
  def cycle: Seq[String]
  /** Issue one closed-loop op. */
  private[graftbench] def issue(op: String): Unit
  /** Open-loop op names (timed from their due time). */
  def openOps: Seq[String] = Nil
  /** The op that writes: its latency is reported as `write_*`. */
  def writeOp: String
  /** Build the starting state under `dir` from the seed. */
  def setup(dir: String): Unit
  /** Whole cycles a measured phase runs at least, whatever `--seconds`. */
  def minCycles: Int = 1
  /** Run `loop` with any open-loop load the workload adds beside it. */
  private[graftbench] def alongside(deadlineNs: Long)(loop: => Unit): Unit = loop
  /** Whole-state check after the measured phases. */
  def finalCheck(): Option[String] = None
  /** Workload-specific layer figures for the traced phase. */
  def layerDetail(traced: Seq[OpSample], probe: SparkProbe): Map[String, Any] =
    Map.empty
  /** Stop background work (streams). */
  def close(): Unit = ()

  def closedOps: Seq[String] = cycle.distinct
  private var next = 0L

  /** Issue ops until `deadlineNs` (System.nanoTime) and at least `minOps`. */
  def run(deadlineNs: Long, minOps: Int = 0): Unit = alongside(deadlineNs) {
    val first = next
    while (System.nanoTime() < deadlineNs || next - first < minOps) {
      issue(cycle((next % cycle.size).toInt))
      next += 1
    }
  }
}

object Main {
  val SetupReps = 3
  val WarmupSeconds = 1.0

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** The session `graft.Bench` uses, with `local[N]`, N = cores capped at 4. */
  def session(cpus: Int): (SparkSession, Map[String, String]) = {
    val confs = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.shuffle.sort.bypassMergeThreshold" -> "1")
    val b = confs.foldLeft(SparkSession.builder().appName("graftbench")) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.ephemeralStreamTuning(spark)
    (spark, confs + ("spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"))
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The host's cumulative CPU times (the `cpu` line of /proc/stat). */
  def cpuTimes(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    catch { case _: Throwable => Array.fill(8)(0L) }

  /** Share of CPU time the hypervisor gave to other guests (steal) between
    * two [[cpuTimes]] readings: on a shared VM this, not the code, moves
    * every timing of a run together. */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.indices.map(i => b(i) - a(i))
    if (d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
      .toAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val load0 = loadAvg()
    val cpu0 = cpuTimes()
    val (spark, confs) = session(cpus)
    val rec = new Recorder(spark)
    val wl: Workload = workload match {
      case "store" => new StoreWorkload(spark, rec, seed)
      case "index" => new IndexWorkload(spark, rec, seed)
      case other => sys.error(s"unknown workload '$other'")
    }
    rmrf(work)
    Files.createDirectories(work)
    val probe = new SparkProbe(spark)
    if (trace) probe.register()

    // Set-up runs several times on fresh directories; the median is
    // setup_s and the last state is the one measured.
    val setupS = (1 to SetupReps).map { i =>
      if (i > 1) wl.close()
      val dir = work.resolve(s"state$i")
      val t0 = System.nanoTime()
      wl.setup(dir.toString)
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupReps).foreach(i => rmrf(work.resolve(s"state$i")))

    // a measured phase runs for `sec` and at least `minCycles` whole
    // cycles, so every closed-loop op type has a sample however slow the
    // host
    def phase(sec: Double): (Seq[OpSample], Double) = {
      rec.samples.clear()
      rec.timing = true
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      wl.run(t0 + (sec * 1e9).toLong, wl.minCycles * wl.cycle.size)
      rec.timing = false
      val got = rec.measured
      val closed = got.filter(s => wl.closedOps.contains(s.op))
      val span = closed.map(_.endMs).maxOption.map(_ - t0Ms).getOrElse(0L)
      val opsPerS = if (span > 0) closed.size * 1000.0 / span else 0.0
      (got, opsPerS)
    }

    // warm-up: caches and codegen fill; every op type runs at least once
    wl.run(System.nanoTime() + (WarmupSeconds * 1e9).toLong,
      wl.cycle.indices.find(i => wl.cycle.take(i + 1).distinct.size ==
        wl.closedOps.size).get + 1)
    val (samples, opsPerS, tracedOut) =
      if (!trace) {
        val (s, r) = phase(seconds)
        (s, r, None)
      } else {
        val (s0, r0) = phase(seconds / 2)
        probe.start()
        rec.tracing = true
        val (s1, r1) = phase(seconds / 2)
        rec.tracing = false
        probe.stop()
        (s0, r0, Some((s1, r1)))
      }
    val finalErr = wl.finalCheck()
    finalErr.foreach(rec.failures.add)
    val load1 = loadAvg()
    val steal = stealShare(cpu0, cpuTimes())

    // the tail reported is the highest quantile with ten samples beyond it
    def opStats(ss: Seq[OpSample]) = {
      val ms = ss.map(_.latencyNs / 1e6)
      val tailQ = if (ms.size >= 20) 1.0 - 10.0 / ms.size else Double.NaN
      Json.obj("n" -> ss.size, "failed" -> ss.count(!_.ok),
        "p50_ms" -> Stats.quantile(ms, 0.5), "p90_ms" -> Stats.quantile(ms, 0.9),
        "tail_q" -> tailQ, "tail_ms" -> Stats.quantile(ms, tailQ),
        "mean_ms" -> (if (ms.isEmpty) Double.NaN else ms.sum / ms.size),
        "max_ms" -> ms.maxOption.getOrElse(Double.NaN),
        "samples_ms" -> ms)
    }
    val byOp = (wl.closedOps ++ wl.openOps).map(o =>
      o -> opStats(samples.filter(_.op == o))).toMap
    def p50(op: String) =
      Stats.quantile(samples.filter(_.op == op).map(_.latencyNs / 1e6), 0.5)
    // every op type's median, combined as a geometric mean with equal
    // weights: a type that gets f times slower moves it by f^(1/types)
    val types = wl.closedOps ++ wl.openOps
    val gmean = math.exp(types.map(o => math.log(p50(o))).sum / types.size)
    val endToEnd = Json.obj(
      "setup_s" -> Stats.median(setupS),
      "ops_per_s" -> opsPerS,
      "op_p50_gmean_ms" -> gmean,
      "write_p50_ms" -> p50(wl.writeOp))

    val traced = tracedOut.map { case (ts, tracedRate) =>
      Layers.report(wl, ts, rec.spans.asScala.toSeq, probe, opsPerS, tracedRate)
    }
    wl.close()
    // spans stay in memory during the run and are written out at the end
    arg(args, "--spans").filter(_ => trace).foreach { f =>
      Files.write(Paths.get(f), rec.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
        Json(Json.obj("id" -> s.id, "parent" -> s.parent, "op_id" -> s.opId,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.asJava)
    }
    val attempted = rec.attempted.get
    val failed = rec.failed.get + finalErr.size
    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "loadavg" -> Seq(load0, load1),
      "cpu_steal_share" -> steal,
      "confs" -> confs, "setup_samples_s" -> setupS,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> rec.failures.asScala.take(20).toSeq,
      "end_to_end" -> endToEnd, "ops" -> byOp,
      "layers" -> traced.getOrElse(Map.empty))
    println("GRAFTBENCH_RESULT " + Json(out))
    spark.stop()
    rmrf(work)
  }
}
