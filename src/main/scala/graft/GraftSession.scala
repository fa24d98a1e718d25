package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode engine configuration every graft entry point runs
  * under — Bench, Verify, JobProfile, ScaleProbe, Explain, TimeStoreDemo and
  * the test fixture — so the specs exercise the same engine the gates
  * measure. (`RegisterNamespace` is the spark-submit cluster entry and
  * takes the cluster's configuration instead.)
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` as a positive core count (8 when unset). */
  def parseCpus(raw: Option[String]): Int =
    raw.fold(8)(s => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")))

  /** A `local[cpus]` session with one shuffle partition per core, UTC,
    * nanosecond `ts` as Long, AQE on and no UI; WARN logging and the
    * ephemeral-checkpoint stream tuning ([[Tables.ephemeralStreamTuning]]). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // r16 session tuning (static confs — must be set before the context
      // exists; both scale-independent, see OPTIMIZATION_r16.md):
      //  - codegen.cache.maxEntries: the default 100 compiled-class slots
      //    thrash under this inventory's ~2k distinct codegen units — a
      //    JobProfile thread dump showed 31/32 executor threads parked in
      //    CodeGenerator.compile's KeyLock re-compiling classes the warmup
      //    had already built. Sized to hold the whole suite; per-JVM
      //    memory, the same benefit in a long-lived cluster session.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      //  - bypassMergeThreshold=1: with reduce-side width ≤ 200 the bypass
      //    writer opens one file PER REDUCE PARTITION per map task and
      //    NIO-concatenates them (32×32 tiny files + mmap/unmap per tiny
      //    exchange here — the dominant task time in the trainer stages,
      //    measured by thread dump); the sort writer emits ONE file + index
      //    per map task. At production shuffle widths (> 200 partitions)
      //    bypass never applies, so this is a no-op at scale — it only
      //    removes the small-shuffle file churn.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every local entry point's streaming checkpoints are
    // per-invocation-ephemeral (see the Tables scaladoc)
    Tables.ephemeralStreamTuning(spark)
  }
}
