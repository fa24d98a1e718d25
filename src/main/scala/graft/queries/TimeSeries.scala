package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.TimeSeriesOps

/** Time-series query surface over the `events` fixture — the direct analog of
  * the reference's read API (`readSimple`/`readExtended`/`latestUniques`):
  * `user_id` plays the address, `ts` (epoch nanoseconds) the time, `value`
  * the payload, `props` the extended blob.
  *
  * `ts` is read as a Long of epoch ns (see [[graft.Tables.tune]]), matching
  * the reference's Word64 ns `Time`; the DuckDB oracles use `epoch_ns(ts)`.
  */
object TimeSeries {

  // 2024-01-10T00:00:00Z .. 2024-01-20T00:00:00Z in epoch ns — inside the
  // fixture's Jan-2024 window at every scale factor.
  private val T0 = 1704844800000000000L
  private val T1 = 1705708800000000000L
  private val Addrs = Seq(1L, 2L, 3L, 5L, 8L)

  // DuckDB (the oracle) reads parquet timestamp[ns] as µs TIMESTAMP,
  // truncating nanos — so declared outputs truncate ns→µs the same way.
  // Integer arithmetic: epoch-ns values exceed 2^53, float ops would drift.
  private def nsTruncUs(c: org.apache.spark.sql.Column) =
    c - pmod(c, lit(1000L))

  /** The store-gate point projection shared by every `ts_store_*` /
    * `stream_store_*` gate: address = user_id·2 (even ⇒ simple kind),
    * time µs-truncated so Spark and the DuckDB twin see identical
    * instants, payload = event_id. ONE definition — changing this mapping
    * changes every store gate and the shared [[storeRoundtripSql]] twin
    * together, never one copy of ten. */
  private def simplePts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      (col("user_id") * 2).as("address"),
      nsTruncUs(col("ts")).as("time"),
      col("event_id").as("payload"),
      lit(null).cast("binary").as("value"))

  /** The FULL store protocol under the DuckDB hash gate — every other ts_*
    * query scans the fixture parquet directly, so the write path (route →
    * one shuffle on (kind, epoch, bucket) → partitioned append → latest
    * watermark) and the store read path (index range lookup → targetObjs
    * bucket pruning → pinned first-wins dedup → unsigned sort) were only
    * golden-spec'd, never checked against an independent engine. This
    * query ingests the whole events fixture through
    * [[graft.sources.TimeStore.writePoints]] into a fresh namespace
    * (address = user_id·2 ⇒ simple kind; time = µs-truncated ts so both
    * engines see identical instants; payload = event_id), then serves the
    * result via [[graft.sources.TimeStore.readSimple]] over the Addrs
    * window — the twin recomputes the scan contract (range filter,
    * address set, smallest-payload dedup winner, (time, address) order)
    * from the raw table. Duplicate (address, time) pairs resolve to the
    * smallest unsigned payload on the store side and MIN(event_id) in the
    * twin — the same pinned winner.
    *
    * The temp namespace is fresh per invocation (registered under a
    * shutdown-cleaned workspace), so Verify and both Bench passes each
    * pay the real write — the measured cost IS the protocol, exactly like
    * the stream_* family's real streaming executions. */
  def storeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-roundtrip")
    val n = TimeStore.namespace(root, "ROUNDTRIP")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
  }

  val storeRoundtripSql: String =
    s"""SELECT user_id, epoch_ns(ts) AS ts_ns, event_id
       |FROM (
       |  SELECT user_id, ts, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |) WHERE rn = 1
       |ORDER BY ts_ns, user_id""".stripMargin

  /** The store as a FIRST-CLASS SQL TABLE (VERDICT r8 #1): the same
    * whole-protocol write as [[storeRoundtrip]], but the read side is PURE
    * SQL over `spark.read.format("graft")` — the DataSource-V2 provider
    * ([[graft.sources.GraftTableProvider]]) — with `readSimple`'s contract
    * (kind filter, address set, inclusive time range, pinned first-wins
    * dedup, (time, address) order) expressed as a WHERE clause + window.
    * The provider pushes `address IN` into the `targetObjs` bucket image
    * and the time bounds into index-epoch selection BEFORE listing any
    * directory (GraftSourceSpec pins the pruned file image), so this gate
    * covers the full SQL-table path: options → schema → pushdown → pruned
    * planning → executor-side parquet reads → partition-value injection.
    * Twin: identical semantics recomputed from the raw events fixture —
    * the same oracle as storeRoundtrip, which is the point: a SQL-only
    * user gets exactly the API read. */
  def storeSql(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-sql")
    val n = TimeStore.namespace(root, "SQLTBL")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    s.read.format("graft").option("root", root).option("ns", "SQLTBL").load()
      .createOrReplaceTempView("graft_pts")
    s.sql(
      s"""SELECT user_id, ts_ns, event_id FROM (
         |  SELECT address div 2 AS user_id, time AS ts_ns, payload AS event_id,
         |    row_number() OVER (PARTITION BY address, time ORDER BY payload) rn
         |  FROM graft_pts
         |  WHERE kind = 'simple' AND address IN (${Addrs.map(_ * 2).mkString(",")})
         |    AND time BETWEEN $T0 AND $T1
         |) WHERE rn = 1
         |ORDER BY ts_ns, user_id""".stripMargin)
  }

  // the twin IS storeRoundtripSql's: the SQL table serves the same API read
  val storeSqlSql: String = storeRoundtripSql

  // Takedown sub-range: 2024-01-12 .. 2024-01-16 (inside [T0, T1]).
  private val D0 = 1705017600000000000L
  private val D1 = 1705363200000000000L

  /** Takedown on the PRIMARY store (VERDICT r13 #2 —
    * [[graft.sources.TimeStore.deletePoints]] /
    * [[graft.sources.TimeStore.vacuumDeletes]]): every derived index can
    * forget a document, and this closes the loop for the corpus itself.
    * The whole events fixture ingests through the store protocol, then a
    * takedown request deletes two addresses over a time sub-range; the
    * read is served TWICE under one hash — first with the rows suppressed
    * by the scan's pending-tombstone mask (materialized before the vacuum,
    * while the delete files still exist), then after
    * [[graft.sources.TimeStore.vacuumDeletes]] physically rewrote the
    * points generation without them (reader-safe `_SUCCESS` swap, applied
    * delete files cleared). The twin serves the surviving rows for both
    * phases from the raw fixture: a row that leaks through the mask,
    * a row lost or kept wrongly by the vacuum rewrite, or a dedup winner
    * chosen before the delete all break the hash. */
  def storeDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-delete")
    val n = TimeStore.namespace(root, "TAKEDOWN")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    // the takedown: users 2 and 8 (addresses 4, 16), middle sub-range
    TimeStore.deletePoints(s, n, Seq(4L, 16L), D0, D1)
    def read() = TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
    // materialize the tombstoned phase BEFORE the vacuum rewrites the
    // generation and clears the applied delete files its plan references
    val preOut = s"$root/pre"
    read().withColumn("phase", lit("tombstoned")).write.parquet(preOut)
    TimeStore.vacuumDeletes(s, n)
    s.read.parquet(preOut)
      .unionByName(read().withColumn("phase", lit("vacuumed")))
      .select(col("phase"), col("user_id"), col("ts_ns"), col("event_id"))
      .orderBy(col("phase"), col("ts_ns"), col("user_id"))
  }

  val storeDeleteSql: String =
    s"""WITH surviving AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |    AND NOT (user_id IN (2,8) AND epoch_ns(ts) BETWEEN $D0 AND $D1)
       |), served AS (
       |  SELECT user_id, ts_ns, event_id FROM surviving WHERE rn = 1)
       |SELECT phase, user_id, ts_ns, event_id FROM (
       |  SELECT 'tombstoned' AS phase, * FROM served
       |  UNION ALL
       |  SELECT 'vacuumed' AS phase, * FROM served)
       |ORDER BY phase, ts_ns, user_id""".stripMargin

  /** Generation-pinned SNAPSHOT reads (VERDICT r15 #1) — time travel for
    * training-data lineage: the reference's append-only model made every
    * past read reproducible forever (`FuzzyTests.hs:150-200`); the
    * engine's takedown mandate (compact/vacuum rewrite generations, the
    * lease horizon retires them) broke that, and this closes it. The
    * whole events fixture ingests through the store protocol; the live
    * generation is PINNED ([[graft.sources.TimeStore.pinGeneration]] — the
    * retention override that survives retirement); a takedown then deletes
    * two addresses over a sub-range and [[graft.sources.TimeStore
    * .vacuumDeletes]] physically rewrites the store as a NEW generation.
    * Three reads serve under ONE hash: the API snapshot read
    * (`readSimple(generation = g)`) and the DSv2 SQL snapshot read
    * (`option("generation", g)`) must BOTH still serve the full
    * pre-delete corpus from the pinned generation's immutable files —
    * bit-reproducible lineage ("which corpus version trained run X") —
    * while the live read reflects the takedown. A snapshot read that
    * leaks the tombstone overlay, resolves the wrong generation, or loses
    * rows to the vacuum breaks the hash; so does a live read that still
    * serves deleted rows. */
  def storeSnapshot(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-snapshot")
    val n = TimeStore.namespace(root, "SNAP")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    val gen = TimeStore.liveGeneration(s, n).get
    TimeStore.pinGeneration(s, n, gen) // the lineage retention override
    TimeStore.deletePoints(s, n, Seq(4L, 16L), D0, D1)
    TimeStore.vacuumDeletes(s, n) // live is now generation gen+1
    def serve(df: org.apache.spark.sql.DataFrame, phase: String) = df
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
      .withColumn("phase", lit(phase))
    val api = serve(TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2),
      generation = Some(gen)), "snapshot-api")
    val sql = s.read.format("graft").option("root", root).option("ns", "SNAP")
      .option("generation", gen).load()
      .filter(col("kind") === "simple" &&
        col("address").isin(Addrs.map(_ * 2): _*) &&
        col("time").between(T0, T1))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("address"), col("time")).orderBy(col("payload"))))
      .filter(col("rn") === 1)
    val live = serve(TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2)),
      "live")
    api.unionByName(serve(sql, "snapshot-sql")).unionByName(live)
      .select(col("phase"), col("user_id"), col("ts_ns"), col("event_id"))
      .orderBy(col("phase"), col("ts_ns"), col("user_id"))
  }

  val storeSnapshotSql: String =
    s"""WITH pre_delete AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |), surviving AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |    AND NOT (user_id IN (2,8) AND epoch_ns(ts) BETWEEN $D0 AND $D1)
       |)
       |SELECT phase, user_id, ts_ns, event_id FROM (
       |  SELECT 'snapshot-api' AS phase, user_id, ts_ns, event_id
       |  FROM pre_delete WHERE rn = 1
       |  UNION ALL
       |  SELECT 'snapshot-sql' AS phase, user_id, ts_ns, event_id
       |  FROM pre_delete WHERE rn = 1
       |  UNION ALL
       |  SELECT 'live' AS phase, user_id, ts_ns, event_id
       |  FROM surviving WHERE rn = 1)
       |ORDER BY phase, ts_ns, user_id""".stripMargin

  /** SQL-NATIVE time travel through the [[graft.sources.GraftCatalog]]
    * `TableCatalog` — the catalog-qualified spelling of the snapshot read:
    * Spark routes `VERSION AS OF` / `TIMESTAMP AS OF` only through a
    * catalog's `loadTable(ident, version)` hooks, which no `TableProvider`
    * path receives, so [[storeSnapshot]]'s `option("generation", g)` was
    * the only SQL spelling until this. Same protocol story (ingest → pin →
    * takedown → vacuum to a new generation), three reads under ONE hash,
    * all pure SQL against the catalog: `VERSION AS OF <pinned gen>` serves
    * the pre-delete corpus verbatim from the pinned generation's immutable
    * files; `TIMESTAMP AS OF now()` resolves the generation whose
    * `_SUCCESS` commit was newest — the vacuumed live one — via
    * [[graft.sources.TimeStore.generationAsOf]]; the unqualified read is
    * the live table. A version read that leaks the takedown, a timestamp
    * that resolves the wrong generation's commit time, or a live read
    * still serving deleted rows each break the hash. The catalog name is
    * fresh per invocation because Spark caches a catalog instance (and so
    * its root) at first use. */
  def storeSqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-timetravel")
    val n = TimeStore.namespace(root, "TT")
    TimeStore.register(s, n, 8, 8)
    TimeStore.writePoints(s, n, simplePts(s, dir).as[Point])
    val gen = TimeStore.liveGeneration(s, n).get
    TimeStore.pinGeneration(s, n, gen) // the lineage retention override
    TimeStore.deletePoints(s, n, Seq(4L, 16L), D0, D1)
    TimeStore.vacuumDeletes(s, n) // live is now generation gen+1
    val cat = "gtt" + java.util.UUID.randomUUID().toString.replace("-", "")
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def serve(df: DataFrame, phase: String) = df
      .filter(col("kind") === "simple" &&
        col("address").isin(Addrs.map(_ * 2): _*) &&
        col("time").between(T0, T1))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("address"), col("time")).orderBy(col("payload"))))
      .filter(col("rn") === 1)
      .select(lit(phase).as("phase"), expr("address div 2").as("user_id"),
        col("time").as("ts_ns"), col("payload").as("event_id"))
    val ver = serve(
      s.sql(s"SELECT * FROM $cat.`TT` VERSION AS OF $gen"), "version")
    val ts = serve(
      s.sql(s"SELECT * FROM $cat.`TT` TIMESTAMP AS OF now()"), "timestamp")
    val live = serve(s.sql(s"SELECT * FROM $cat.`TT`"), "live")
    // the catalog is resolved at the s.sql() analysis above — drop the
    // conf entries so repeated invocations (bench's 3 passes) don't
    // accumulate dead catalog registrations in the session
    s.conf.unset(s"spark.sql.catalog.$cat")
    s.conf.unset(s"spark.sql.catalog.$cat.root")
    ver.unionByName(ts).unionByName(live)
      .orderBy(col("phase"), col("ts_ns"), col("user_id"))
  }

  val storeSqlTimeTravelSql: String =
    s"""WITH pre_delete AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |), surviving AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |    AND NOT (user_id IN (2,8) AND epoch_ns(ts) BETWEEN $D0 AND $D1)
       |)
       |SELECT phase, user_id, ts_ns, event_id FROM (
       |  SELECT 'version' AS phase, user_id, ts_ns, event_id
       |  FROM pre_delete WHERE rn = 1
       |  UNION ALL
       |  SELECT 'timestamp' AS phase, user_id, ts_ns, event_id
       |  FROM surviving WHERE rn = 1
       |  UNION ALL
       |  SELECT 'live' AS phase, user_id, ts_ns, event_id
       |  FROM surviving WHERE rn = 1)
       |ORDER BY phase, ts_ns, user_id""".stripMargin

  /** STREAMING takedown (VERDICT r15 #3) — deletes arrive as a STREAM in
    * production (user-deletion feeds), and this gates the
    * [[graft.sources.TimeStore.deletePointsBatch]] arm end to end: the
    * events fixture ingests through the store protocol, then a takedown
    * FEED of (address, tstart, tend) requests arrives as real micro-batches
    * (users 2 and 8 over the middle sub-range, user 3 whole-address), each
    * batch publishing its requests as ONE batchId-keyed tombstone file
    * inside `foreachBatch` — the idempotent at-least-once shape (a replayed
    * batch replaces its own file; StoreDeleteSpec pins the replay). The
    * read serves TWICE under one hash, exactly like the bulk-delete gate:
    * first through the pending-tombstone mask, then after
    * [[graft.sources.TimeStore.vacuumDeletes]] folded the stream's
    * tombstones in physically — so the streamed takedown must be
    * indistinguishable from the bulk `deletePoints` twin. The per-batch
    * collect is the takedown REQUEST feed (human/legal-request-sized,
    * never corpus-sized) — the rows it carries are the model-state-sized
    * input of the tombstone write, which is driver-side by design. */
  def streamStoreDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-stream-store-delete")
    val n = TimeStore.namespace(root, "STREAMDEL")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    // the takedown feed: three requests, arriving as three micro-batches
    val reqs = Seq((4L, D0, D1), (16L, D0, D1), (6L, 0L, -1L))
      .toDF("address", "tstart", "tend")
    val staged = s"$root/staged"
    reqs.repartition(3).write.parquet(staged)
    val src = s.readStream.schema(reqs.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    Streaming.runToCompletion(src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        TimeStore.deletePointsBatch(s, n, rows, "gate", id)
      }, root)
    def read() = TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
    val preOut = s"$root/pre"
    read().withColumn("phase", lit("tombstoned")).write.parquet(preOut)
    TimeStore.vacuumDeletes(s, n)
    s.read.parquet(preOut)
      .unionByName(read().withColumn("phase", lit("vacuumed")))
      .select(col("phase"), col("user_id"), col("ts_ns"), col("event_id"))
      .orderBy(col("phase"), col("ts_ns"), col("user_id"))
  }

  val streamStoreDeleteSql: String =
    s"""WITH surviving AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |    AND NOT (user_id IN (2,8) AND epoch_ns(ts) BETWEEN $D0 AND $D1)
       |    AND user_id <> 3
       |), served AS (
       |  SELECT user_id, ts_ns, event_id FROM surviving WHERE rn = 1)
       |SELECT phase, user_id, ts_ns, event_id FROM (
       |  SELECT 'tombstoned' AS phase, * FROM served
       |  UNION ALL
       |  SELECT 'vacuumed' AS phase, * FROM served)
       |ORDER BY phase, ts_ns, user_id""".stripMargin

  // 2024-01-15T00:00:00Z in epoch ns — splits the fixture into two
  // non-empty write batches for the fragmentation stats.
  private val MID = 1705276800000000000L

  /** Store MAINTENANCE stats (VERDICT r15 #4) —
    * [[graft.sources.TimeStore.storeStats]], the primary store's twin of
    * the index families' decision views (`imiIndexStats`): per kind, the
    * live generation, on-disk generation count, index shape, leaf/file
    * fragmentation (when to [[graft.sources.TimeStore.compact]]), the
    * unsigned watermark, and the pending-tombstone backlog vs the
    * broadcast gate (when [[graft.sources.TimeStore.vacuumDeletes]] is
    * due, and whether it would degrade to the shuffled path). The gate
    * drives the stats through a REAL maintenance story — two append
    * batches (2 files/leaf), a pending takedown (1 file, 2 ranges), then
    * a compaction (new generation, 1 file/leaf) — and the twin recomputes
    * every deterministic field from the raw fixture: leaves/files from
    * the `placeBucket` image of the written addresses per batch, the
    * watermark from the max written time, the protocol counters from the
    * story itself. A mis-grouped leaf listing, a watermark regression, a
    * generation miscount, or a lost tombstone file breaks the hash.
    * (`bytes` is excluded — parquet encoding size is not cross-engine
    * deterministic; the stats API reports it for operators.) */
  def storeStats(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-stats")
    val n = TimeStore.namespace(root, "STATS")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
    // two append batches -> 2 files in every leaf both halves touch
    TimeStore.writePoints(s, n, pts.filter(col("time") < MID).as[Point])
    TimeStore.writePoints(s, n, pts.filter(col("time") >= MID).as[Point])
    // a pending takedown: one tombstone file carrying two (addr, range) rows
    TimeStore.deletePoints(s, n, Seq(4L, 16L), D0, D1)
    def statRows(phase: String) = TimeStore.storeStatsDF(s, n).select(
      lit(phase).as("phase"), col("kind"), col("generation"),
      col("generationsOnDisk").as("generations_on_disk"),
      col("pinnedGenerations").as("pinned_generations"),
      col("epochs"), col("buckets"), col("leaves"), col("files"),
      col("maxFilesPerLeaf").as("max_files_per_leaf"), col("watermark"),
      col("pendingDeleteFiles").as("pending_delete_files"),
      col("pendingDeleteRanges").as("pending_delete_ranges"),
      col("deleteOverBroadcastGate").as("delete_over_gate"),
      col("hasKvShadow").as("has_kv_shadow"))
    val fresh = statRows("fresh") // storeStats lists eagerly at call time
    TimeStore.compact(s, n)
    fresh.unionByName(statRows("compacted"))
      .orderBy(col("phase"), col("kind"))
  }

  val storeStatsSql: String =
    s"""WITH b AS (
       |  SELECT ((user_id*2) % 8) AS bucket,
       |    CASE WHEN epoch_ns(ts) < $MID THEN 0 ELSE 1 END AS half,
       |    epoch_ns(ts) - epoch_ns(ts) % 1000 AS tns
       |  FROM events),
       |leaf AS (
       |  SELECT bucket, CAST(COUNT(DISTINCT half) AS BIGINT) nf
       |  FROM b GROUP BY bucket),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) leaves, CAST(SUM(nf) AS BIGINT) files,
       |    CAST(MAX(nf) AS BIGINT) maxf, (SELECT MAX(tns) FROM b) wm
       |  FROM leaf)
       |SELECT phase, kind, generation, generations_on_disk,
       |  pinned_generations, epochs, buckets, leaves, files,
       |  max_files_per_leaf, watermark, pending_delete_files,
       |  pending_delete_ranges, delete_over_gate, has_kv_shadow
       |FROM (
       |  SELECT 'fresh' AS phase, 'simple' AS kind,
       |    CAST(0 AS BIGINT) generation, CAST(1 AS BIGINT) generations_on_disk,
       |    CAST(0 AS BIGINT) pinned_generations, CAST(1 AS BIGINT) epochs,
       |    CAST(8 AS BIGINT) buckets, leaves, files, maxf AS max_files_per_leaf,
       |    wm AS watermark, CAST(1 AS BIGINT) pending_delete_files,
       |    CAST(2 AS BIGINT) pending_delete_ranges, FALSE AS delete_over_gate,
       |    FALSE AS has_kv_shadow FROM m
       |  UNION ALL
       |  SELECT 'fresh', 'extended', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    FALSE, FALSE
       |  UNION ALL
       |  SELECT 'compacted', 'simple', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT),
       |    leaves, leaves, CAST(1 AS BIGINT), wm, CAST(1 AS BIGINT),
       |    CAST(2 AS BIGINT), FALSE, FALSE FROM m
       |  UNION ALL
       |  SELECT 'compacted', 'extended', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    FALSE, FALSE)
       |ORDER BY phase, kind""".stripMargin

  /** The store ingest as PURE SQL (VERDICT r10 #3): `CREATE TABLE … USING
    * graft` + `INSERT INTO … SELECT` drive the WHOLE write protocol — lease,
    * route, one shuffle on (kind, epoch, bucket), partitioned append,
    * watermark advance, rollover probe — through the DataSource-V2 write
    * path ([[graft.sources.GraftTable.newWriteBuilder]]), then the read
    * side is the same pure-SQL scan as [[storeSql]] against the SAME
    * catalog table. A SQL-only user can now both ingest and query without
    * touching the Scala API; the insert uses the column-list form (the
    * routed columns are derived on write). Twin: storeRoundtripSql — the
    * SQL-write → SQL-read roundtrip must serve exactly the API read. */
  def storeSqlWrite(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TimeStore
    val root = Streaming.tempWorkspace("graft-store-sql-write")
    val n = TimeStore.namespace(root, "SQLWR")
    TimeStore.register(s, n, 8, 8)
    Tables.events(s, dir).createOrReplaceTempView("events_sqlwr_src")
    s.sql("DROP TABLE IF EXISTS graft_sqlwr")
    s.sql(s"CREATE TABLE graft_sqlwr USING graft OPTIONS (root '$root', ns 'SQLWR')")
    s.sql(
      """INSERT INTO graft_sqlwr (address, time, payload, value)
        |SELECT user_id * 2, ts - pmod(ts, 1000), event_id, CAST(NULL AS BINARY)
        |FROM events_sqlwr_src""".stripMargin)
    s.sql(
      s"""SELECT user_id, ts_ns, event_id FROM (
         |  SELECT address div 2 AS user_id, time AS ts_ns, payload AS event_id,
         |    row_number() OVER (PARTITION BY address, time ORDER BY payload) rn
         |  FROM graft_sqlwr
         |  WHERE kind = 'simple' AND address IN (${Addrs.map(_ * 2).mkString(",")})
         |    AND time BETWEEN $T0 AND $T1
         |) WHERE rn = 1
         |ORDER BY ts_ns, user_id""".stripMargin)
  }

  val storeSqlWriteSql: String = storeRoundtripSql

  /** Takedown as PURE SQL (VERDICT r14 #1): `DELETE FROM <graft table>
    * WHERE address IN (…) AND time BETWEEN …` — the DSv2
    * `SupportsDelete` wiring ([[graft.sources.GraftTable.deleteWhere]])
    * maps the predicate onto the SAME tombstone protocol the Scala API's
    * [[graft.sources.TimeStore.deletePoints]] uses, so a SQL-only user
    * can now ingest, query, AND forget without touching the Scala API.
    * The read is served TWICE under one hash, exactly like
    * [[storeDelete]]: first through the SQL scan with the tombstones
    * pending (the batch-masked read path), then after
    * [[graft.sources.TimeStore.vacuumDeletes]] physically rewrote the
    * generation. Same twin as the API takedown — the SQL spelling must be
    * indistinguishable from it. */
  def storeSqlDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-sql-delete")
    val n = TimeStore.namespace(root, "SQLDEL")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    s.sql("DROP TABLE IF EXISTS graft_sqldel")
    s.sql(s"CREATE TABLE graft_sqldel USING graft OPTIONS (root '$root', ns 'SQLDEL')")
    // the takedown, spelled as SQL: users 2 and 8, middle sub-range
    s.sql(s"DELETE FROM graft_sqldel WHERE address IN (4, 16) " +
      s"AND time BETWEEN $D0 AND $D1")
    def read() = s.sql(
      s"""SELECT user_id, ts_ns, event_id FROM (
         |  SELECT address div 2 AS user_id, time AS ts_ns, payload AS event_id,
         |    row_number() OVER (PARTITION BY address, time ORDER BY payload) rn
         |  FROM graft_sqldel
         |  WHERE kind = 'simple' AND address IN (${Addrs.map(_ * 2).mkString(",")})
         |    AND time BETWEEN $T0 AND $T1
         |) WHERE rn = 1""".stripMargin)
    val preOut = s"$root/pre"
    read().withColumn("phase", lit("tombstoned")).write.parquet(preOut)
    TimeStore.vacuumDeletes(s, n)
    s.read.parquet(preOut)
      .unionByName(read().withColumn("phase", lit("vacuumed")))
      .select(col("phase"), col("user_id"), col("ts_ns"), col("event_id"))
      .orderBy(col("phase"), col("ts_ns"), col("user_id"))
  }

  val storeSqlDeleteSql: String = storeDeleteSql

  /** O8 `latestUniques` over an ACTUAL store ([[storeRoundtrip]]'s write
    * path feeding [[graft.sources.TimeStore.latestPerAddress]]) — the
    * store's latest-value materialization (the min_by over sign-flipped
    * unsigned structs) hash-checked against the twin's window
    * reconstruction: per address the winner is max unsigned time, ties to
    * the smallest unsigned (payload, value). */
  def storeLatest(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-latest")
    val n = TimeStore.namespace(root, "LATEST")
    TimeStore.register(s, n, 8, 8)
    val pts = simplePts(s, dir)
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    TimeStore.latestPerAddress(s, n, "simple")
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
      .orderBy(col("user_id"))
  }

  val storeLatestSql: String =
    """SELECT user_id, epoch_ns(ts) AS ts_ns, event_id
      |FROM (
      |  SELECT user_id, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id) rn
      |  FROM events
      |) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** O6/O12 `readExtended` under the gate: the variable-length BINARY blob
    * path (`props` stored as the extended value — the reference's
    * extended-bucket blob store, subsumed by Parquet BINARY). Odd
    * addresses route to kind=extended; the read-back decodes the blob and
    * the twin compares the STRING itself, so a byte-level corruption
    * anywhere in encode → shuffle → parquet → decode breaks the hash. */
  def storeExtended(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-ext")
    val n = TimeStore.namespace(root, "EXT")
    TimeStore.register(s, n, 8, 8)
    val pts = Tables.events(s, dir).select(
        (col("user_id") * 2 + 1).as("address"), // odd = extended
        nsTruncUs(col("ts")).as("time"),
        col("event_id").as("payload"),
        encode(col("props"), "UTF-8").as("value"))
      .as[Point]
    TimeStore.writePoints(s, n, pts)
    TimeStore.readExtended(s, n, T0, T1, Addrs.map(_ * 2 + 1))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"),
        decode(col("value"), "UTF-8").as("props"))
  }

  val storeExtendedSql: String =
    s"""SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, props
       |FROM (
       |  SELECT user_id, ts, event_id, props,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |) WHERE rn = 1
       |ORDER BY ts_ns, user_id""".stripMargin

  /** O25-O29 (`Mutable.hs:48-119`) under the gate: the mutable key→blob
    * view's whole read-modify-write protocol — shadow `-INTERNAL`
    * namespace, 128-bucket fixed layout, forced-odd extended addressing,
    * per-key sequence bumps — driven by a deterministic workload the twin
    * recomputes from the raw fixture. Per user in the Addrs set, the
    * THREE earliest events (by (ts, event_id)) are `insertWith`-merged in
    * order with a comma-concat merge function (so the final blob pins the
    * exact read-modify-write order AND every byte of the binary
    * round-trip); even users then take a plain `insert` overwrite
    * (new-wins, seq bumps again). `enumerate` serves the result: the twin
    * re-derives (seq, final blob) per key with a window + ordered
    * string_agg, so a wrong merge order, a lost seq bump, a stale lookup,
    * or a byte flip anywhere in the blob path breaks the hash.
    *
    * The workload is intentionally BOUNDED (15 merges + 2 overwrites):
    * each insertWith is a full lookup→merge→write round trip by contract
    * (the reference's `Mutable.hs:90-103` race semantics), so this gates
    * protocol fidelity, not bulk throughput — bulk ingest is
    * [[storeRoundtrip]]'s job. */
  def storeMutable(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MutableKV, TimeStore}
    val root = Streaming.tempWorkspace("graft-store-mutable")
    val n = TimeStore.namespace(root, "MUTABLE")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val rows = Tables.events(s, dir)
      .filter(col("user_id").isin(Addrs: _*))
      .select(col("user_id"), col("event_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("user_id"), col("rn"))
      .collect() // bounded driver-side workload script: ≤ 3 rows × 5 keys
    rows.foreach { r =>
      MutableKV.insertWith(s, n,
        // (new, existing) => existing ++ "," ++ new — order-sensitive
        (nw, prev) => prev ++ ",".getBytes("UTF-8") ++ nw,
        r.getAs[Long]("user_id") * 2,
        r.getAs[Long]("event_id").toString.getBytes("UTF-8"))
    }
    Addrs.filter(_ % 2 == 0).foreach { uid =>
      MutableKV.insert(s, n, uid * 2, "FINAL".getBytes("UTF-8"))
    }
    MutableKV.enumerate(s, n)
      .select(expr("address div 2").as("user_id"), col("seq"),
        decode(col("value"), "UTF-8").as("kv"))
      .orderBy(col("user_id"))
  }

  val storeMutableSql: String =
    """WITH sel AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id IN (1,2,3,5,8)),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS cnt,
      |    string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS joined
      |  FROM sel WHERE rn <= 3 GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN user_id % 2 = 0 THEN cnt + 1 ELSE cnt END AS BIGINT) AS seq,
      |  CASE WHEN user_id % 2 = 0 THEN 'FINAL' ELSE joined END AS kv
      |FROM agg ORDER BY user_id""".stripMargin

  /** KV takedown under the hash gate ([[graft.sources.MutableKV.delete]]
    * / `vacuum`, r14): the same scripted per-key workload as
    * [[storeMutable]], then two keys are DELETED, one of them re-created
    * (its first new record must land above the tombstone horizon — seq
    * cnt+1, which the twin recomputes), the pending deletions vacuum into
    * a fresh points generation, and the final enumerate must show the
    * re-created key at the bumped sequence and the other key GONE. A
    * tombstone that leaks a deleted record, a re-insert swallowed by the
    * pending range-delete, or a vacuum that drops the re-created row all
    * break the hash. */
  def storeKvDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MutableKV, TimeStore}
    val root = Streaming.tempWorkspace("graft-store-kv-delete")
    val n = TimeStore.namespace(root, "KVDEL")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val rows = Tables.events(s, dir)
      .filter(col("user_id").isin(Addrs: _*))
      .select(col("user_id"), col("event_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("user_id"), col("rn"))
      .collect() // bounded driver-side workload script: ≤ 3 rows × 5 keys
    rows.foreach { r =>
      MutableKV.insertWith(s, n,
        (nw, prev) => prev ++ ",".getBytes("UTF-8") ++ nw,
        r.getAs[Long]("user_id") * 2,
        r.getAs[Long]("event_id").toString.getBytes("UTF-8"))
    }
    MutableKV.delete(s, n, 2L * 2)
    MutableKV.delete(s, n, 8L * 2)
    MutableKV.insert(s, n, 2L * 2, "REBORN".getBytes("UTF-8"))
    MutableKV.vacuum(s, n)
    MutableKV.enumerate(s, n)
      .select(expr("address div 2").as("user_id"), col("seq"),
        decode(col("value"), "UTF-8").as("kv"))
      .orderBy(col("user_id"))
  }

  val storeKvDeleteSql: String =
    """WITH sel AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id IN (1,2,3,5,8)),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS cnt,
      |    string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS joined
      |  FROM sel WHERE rn <= 3 GROUP BY user_id)
      |SELECT user_id,
      |  CAST(CASE WHEN user_id = 2 THEN cnt + 1 ELSE cnt END AS BIGINT) AS seq,
      |  CASE WHEN user_id = 2 THEN 'REBORN' ELSE joined END AS kv
      |FROM agg WHERE user_id != 8 ORDER BY user_id""".stripMargin

  /** STREAMING ingest into the store under the gate (`TimeStore.hs:98-137`
    * as a continuous protocol): the fixture is staged as FOUR parquet
    * files and replayed through [[graft.streaming.StreamingIngest.start]]
    * with `Trigger.AvailableNow` + `maxFilesPerTrigger=1`, so the store
    * takes four REAL micro-batch appends — each one a full
    * lease-acquire → route-against-current-index → partitioned append →
    * monotonic watermark advance transaction, exactly the multi-batch
    * protocol a live daemon runs (batch [[storeRoundtrip]] pays this once;
    * here index maintenance must survive repetition). A [[graft.sources
    * .TimeStore.compact]] generation swap runs before the read, so the
    * gate also pins that a compaction is contents-preserving. The read and
    * twin are [[storeRoundtrip]]'s: four appends + a compaction must be
    * indistinguishable from one bulk write. */
  def storeStream(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import graft.streaming.StreamingIngest
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-stream")
    val n = TimeStore.namespace(root, "STREAMED")
    TimeStore.register(s, n, 8, 8)
    val staged = s"$root/staged"
    val pts0 = simplePts(s, dir)
    pts0.repartition(4).write.parquet(staged)
    val src = s.readStream.schema(pts0.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .as[Point]
    StreamingIngest.start(s, n, src, s"$root/ckpt",
      trigger = Trigger.AvailableNow()).awaitTermination()
    TimeStore.compact(s, n)
    TimeStore.readSimple(s, n, T0, T1, Addrs.map(_ * 2))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
  }

  /** Same contract as [[storeRoundtripSql]] — the streaming path must be
    * indistinguishable from the bulk write. */
  val storeStreamSql: String = storeRoundtripSql

  /** STREAMING tail OF the store ([[graft.sources.TimeStore.tailPoints]])
    * under the gate — the read arm completing the store's streaming story
    * (ingest `ts_store_stream`, takedown `stream_store_delete`, and now
    * the store as a streaming SOURCE of record). The fixture lands as
    * FOUR real incremental [[graft.sources.TimeStore.writePoints]]
    * appends; after EACH, one `AvailableNow` tail pass over the SAME
    * checkpoint must deliver exactly the files that append committed
    * (per-pass delivery is spec-pinned in StoreTailSpec; here the union
    * must reconstruct the corpus). The tailed generation is pinned, a
    * [[graft.sources.TimeStore.compact]] swaps the live generation, and a
    * FIFTH pass must deliver NOTHING — the rewrite lands in a new
    * generation directory outside the tail's path, so maintenance can
    * never double-feed rows already delivered. The accumulated feed,
    * read back through the store's own scan semantics (range + address
    * filter, pinned smallest-payload dedup, (time, address) order), must
    * hash-equal the [[storeRoundtrip]] twin: tail + scan semantics ≡
    * `readSimple`. */
  def streamStoreTail(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.TimeStore
    import s.implicits._
    val root = Streaming.tempWorkspace("graft-store-tail")
    val n = TimeStore.namespace(root, "TAILED")
    TimeStore.register(s, n, 8, 8)
    // NOT "$root/tailed" — differing from the namespace dir only by case
    // would collide on a case-insensitive filesystem
    val out = s"$root/feed"
    val pts = simplePts(s, dir)
    // every pass resumes the ONE checkpoint under `root`: batchIds increase
    // across restarts, so the batchId-keyed overwrite stays idempotent
    def tailPass(gen: Long): Unit =
      Streaming.batchSink(TimeStore.tailPoints(s, n, generation = Some(gen)),
        root, out)(identity)
    var gen = -1L // the ONE tailed generation: resolved once, pinned, tailed
    (0 until 4).foreach { i =>
      TimeStore.writePoints(s, n,
        pts.filter(pmod(col("payload"), lit(4L)) === i).as[Point])
      if (i == 0) { // long-lived-tail discipline: pin the tailed generation
        gen = TimeStore.liveGeneration(s, n).get
        TimeStore.pinGeneration(s, n, gen)
      }
      tailPass(gen)
    }
    TimeStore.compact(s, n) // live moves past `gen`, which stays pinned
    tailPass(gen)           // must deliver nothing new
    val acc = s.read.parquet(out).where(col("kind") === "simple")
      .filter(col("address").isin(Addrs.map(_ * 2): _*) &&
        col("time").between(T0, T1))
    graft.operators.TimeSeriesOps.firstWinsDedup(
        acc, Seq("address", "time"),
        Seq(col("payload").bitwiseXOR(lit(Long.MinValue)), col("value")))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        col("payload").as("event_id"))
      .orderBy(col("ts_ns"), col("user_id"))
  }

  /** Same contract as [[storeRoundtripSql]]: the tailed feed re-scanned ≡
    * the bulk read. */
  val streamStoreTailSql: String = storeRoundtripSql

  /** O2-O4 (`Algorithms.hs:111-186`) under the gate: wire-format binary
    * ingest end to end. A MIXED wire blob — 24-byte little-endian
    * `(address, time, payload)` headers, odd addresses carrying an inline
    * blob — is built with [[graft.sources.PointCodec.encode]] from a
    * deterministic fixture slice (even users → simple points carrying
    * event_id; odd users → extended points whose blob is
    * `"<event_id>|<props>"`), ingested through
    * [[graft.sources.TimeStore.writeEncoded]] (decode → route → one
    * shuffle → partitioned append), then read back through BOTH kind
    * paths. The twin recomputes every surviving record from the raw
    * table, so a codec byte-order bug, a parity mis-route, a truncated
    * blob length, or a lost record anywhere in encode → decode → route →
    * parquet → pruned read breaks the hash. Dedup pinning mirrors the
    * store contract (smallest unsigned (payload, value)): defensive here —
    * the fixture has no duplicate (user, µs-time) pairs — but declared on
    * both sides so a future fixture can't silently diverge. */
  def storeWire(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Point
    import graft.sources.{PointCodec, TimeStore}
    val root = Streaming.tempWorkspace("graft-store-wire")
    val n = TimeStore.namespace(root, "WIRE")
    TimeStore.register(s, n, 8, 8)
    val rows = Tables.events(s, dir)
      .filter(col("user_id").isin(Addrs: _*))
      // range on the PHYSICAL ts (pushdown), truncation after
      .filter(col("ts") >= T0 && col("ts") <= T1 + 999)
      .select(col("user_id"), nsTruncUs(col("ts")).as("t"),
        col("event_id"), col("props"))
      .collect() // bounded: the Addrs slice of a 10-day window
    val points = rows.toSeq.map { r =>
      val uid = r.getAs[Long]("user_id")
      val t = r.getAs[Long]("t")
      val eid = r.getAs[Long]("event_id")
      if (uid % 2 == 0) Point(uid * 2, t, eid)
      else {
        val v = s"$eid|${r.getAs[String]("props")}".getBytes("UTF-8")
        Point(uid * 2 + 1, t, v.length.toLong, v)
      }
    }
    TimeStore.writeEncoded(s, n, PointCodec.encode(points))
    val simple = TimeStore.readSimple(s, n, T0, T1,
        Addrs.filter(_ % 2 == 0).map(_ * 2))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        lit("simple").as("kind"), col("payload").cast("string").as("rec"))
    val ext = TimeStore.readExtended(s, n, T0, T1,
        Addrs.filter(_ % 2 == 1).map(_ * 2 + 1))
      .select(expr("address div 2").as("user_id"), col("time").as("ts_ns"),
        lit("extended").as("kind"), decode(col("value"), "UTF-8").as("rec"))
    simple.unionAll(ext)
      .orderBy(col("kind"), col("ts_ns"), col("user_id"))
  }

  val storeWireSql: String =
    s"""WITH base AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, props
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1),
       |simple AS (
       |  SELECT user_id, ts_ns, 'simple' AS kind,
       |    CAST(MIN(event_id) AS VARCHAR) AS rec
       |  FROM base WHERE user_id % 2 = 0 GROUP BY user_id, ts_ns),
       |ext AS (
       |  SELECT user_id, ts_ns, 'extended' AS kind, v AS rec
       |  FROM (
       |    SELECT user_id, ts_ns, v, row_number() OVER (
       |        PARTITION BY user_id, ts_ns ORDER BY length(v), v) AS rn
       |    FROM (SELECT user_id, ts_ns,
       |            CAST(event_id AS VARCHAR) || '|' || props AS v
       |          FROM base WHERE user_id % 2 = 1))
       |  WHERE rn = 1)
       |SELECT user_id, ts_ns, kind, rec FROM simple
       |UNION ALL
       |SELECT user_id, ts_ns, kind, rec FROM ext
       |ORDER BY kind, ts_ns, user_id""".stripMargin

  /** O5/O11: inclusive time-range + address-set scan, sorted (time, addr),
    * first-wins dedup on (addr, time). */
  def rangeScan(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.rangeScan(
        // the range bound rides on the PHYSICAL ts column (eventsInRange)
        // so the parquet scan prunes; the µs truncation below would
        // otherwise hide it from pushdown
        Tables.eventsInRange(s, dir, T0, T1 + 999)
          .select(
            col("user_id"), nsTruncUs(col("ts")).as("ts_ns"), col("event_type"),
            col("value").cast("decimal(18,2)").as("value"), col("event_id")),
        "ts_ns", "user_id", T0, T1, Addrs,
        // pin the dedup winner exactly like the oracle's ORDER BY event_id
        tiebreak = Seq(col("event_id")))
      .select(col("user_id"), col("ts_ns"), col("event_type"),
        col("value").cast("double").as("value"))

  val rangeScanSql: String =
    s"""SELECT user_id, epoch_ns(ts) AS ts_ns, event_type,
       |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
       |FROM (
       |  SELECT user_id, ts, event_type, value,
       |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) rn
       |  FROM events
       |  WHERE user_id IN (1,2,3,5,8)
       |    AND epoch_ns(ts) BETWEEN $T0 AND $T1
       |) WHERE rn = 1
       |ORDER BY ts_ns, user_id""".stripMargin

  /** O8/O9: latest value per address (`latestUniques`): newest event per
    * user, via max_by hash aggregate (no global window shuffle). */
  def latestPerKey(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.latestPerKey(
        Tables.events(s, dir).select(
          col("user_id"), nsTruncUs(col("ts")).as("ts_ns"),
          col("value").cast("decimal(18,2)").as("value"), col("event_type"),
          col("event_id")),
        "user_id", "ts_ns", Seq("value", "event_type"),
        // pin the winner on equal times: highest event_id, matching the
        // oracle's ORDER BY ts DESC, event_id DESC
        tiebreak = Some(col("event_id")))
      .select(col("user_id"), col("ts_ns"),
        col("value").cast("double").as("value"), col("event_type"))
      .orderBy(col("user_id"))

  val latestPerKeySql: String =
    """SELECT user_id, epoch_ns(ts) AS ts_ns,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value, event_type
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      |  FROM events
      |) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Downsampling — the classic TSDB materialization the reference's
    * readers build client-side: per-address per-hour OHLC-style rollup.
    * One hash aggregate, integer-ns bucketing. */
  def downsample(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    Tables.events(s, dir)
      .withColumn("hour_ns", col("ts") - pmod(col("ts"), lit(hourNs)))
      .withColumn("v", col("value").cast("decimal(18,2)"))
      .groupBy(col("user_id"), col("hour_ns"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).cast("double").as("min_value"),
        max(col("v")).cast("double").as("max_value"),
        sum(col("v")).cast("double").as("sum_value"),
        // struct tiebreak pins OHLC winners on equal timestamps (the
        // fixture has none, but repartitioning must not flip results)
        min_by(col("v"), struct(col("ts"), col("event_id")))
          .cast("double").as("open_value"),
        max_by(col("v"), struct(col("ts"), col("event_id")))
          .cast("double").as("close_value"))
      .orderBy(col("user_id"), col("hour_ns"))
  }

  val downsampleSql: String =
    """SELECT user_id, epoch_ns(date_trunc('hour', ts)) AS hour_ns,
      |  COUNT(*) AS n,
      |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
      |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(min_by(CAST(value AS DECIMAL(18,2)), ts) AS DOUBLE) AS open_value,
      |  CAST(max_by(CAST(value AS DECIMAL(18,2)), ts) AS DOUBLE) AS close_value
      |FROM events GROUP BY 1, 2 ORDER BY user_id, hour_ns""".stripMargin

  /** Gap filling with last-observation-carried-forward — the other classic
    * TSDB materialization: a dense per-address hourly grid between each
    * address's first and last observation, missing buckets filled from the
    * latest preceding bucket. Grid generation is row-local
    * (`sequence`+`explode` per address span — no driver loop, no cross
    * join); the fill is one `last(ignoreNulls)` running window per
    * address. Scale: state ∝ span-hours × addresses, shuffles once on the
    * address key. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourNs = 3600L * 1000 * 1000 * 1000
    // r16 shape: ONE lead() window over the per-hour observations, then a
    // row-local explode of each observation's span [hour, next_hour) — the
    // carried value of every generated bucket IS its generating
    // observation's sv, so the dense-grid build + (user, hour) left join +
    // running last(ignoreNulls) carry (two extra exchanges + a window pass
    // over the FULL grid) collapse into arithmetic on the grid row's own
    // generator. Values are identical by construction (each observed
    // bucket's sv is non-null, so LOCF always carries the previous
    // observation); the window now runs over the ~observation rows, not
    // the dense grid. No cache: obs has one consumer.
    //
    // CONTRACT (ADVICE r16): `value` is NOT NULL — the events fixture's
    // schema guarantee (0 nulls at every scale, verified) and this
    // operator's declared input contract. The equivalence above leans on
    // it: an ALL-NULL-value hour would make its bucket's sv NULL, which
    // the old last(ignoreNulls) carry skipped (carrying the previous
    // non-null observation) while this shape emits the bucket's own NULL
    // sv. Nullable-value inputs need the pre-r16 running-carry form, not
    // this one.
    val obs = Tables.events(s, dir)
      .withColumn("hour_ns", col("ts") - pmod(col("ts"), lit(hourNs)))
      .groupBy(col("user_id"), col("hour_ns"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour_ns"))
    obs.withColumn("nh", lead(col("hour_ns"), 1).over(w))
      .select(col("user_id"), col("hour_ns").as("oh"), col("n_events").as("oe"),
        col("sv"),
        explode(sequence(col("hour_ns"),
          coalesce(col("nh") - lit(hourNs), col("hour_ns")),
          lit(hourNs))).as("gh"))
      .select(col("user_id"), col("gh").as("hour_ns"),
        when(col("gh") === col("oh"), col("oe")).otherwise(lit(0L))
          .as("n_events"),
        col("sv").cast("double").as("val_filled"))
      .orderBy(col("user_id"), col("hour_ns"))
  }

  val gapFillSql: String =
    """WITH obs AS (
      |  SELECT user_id, epoch_ns(date_trunc('hour', ts)) AS hour_ns,
      |    COUNT(*) AS n_events, SUM(CAST(value AS DECIMAL(18,2))) AS sv
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(mn, mx, 3600000000000)) AS BIGINT) AS hour_ns
      |  FROM (SELECT user_id, MIN(hour_ns) mn, MAX(hour_ns) mx FROM obs GROUP BY 1)),
      |joined AS (
      |  SELECT g.user_id, g.hour_ns, COALESCE(o.n_events, 0) AS n_events, o.sv
      |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.hour_ns = g.hour_ns)
      |SELECT user_id, hour_ns, n_events,
      |  CAST(LAST_VALUE(sv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour_ns
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS val_filled
      |FROM joined ORDER BY user_id, hour_ns""".stripMargin

  /** Gap filling with LINEAR INTERPOLATION — [[gapFill]]'s sibling for
    * continuous signals (LOCF suits step signals; interpolation suits
    * sampled continuous ones). Same dense per-address hourly grid; missing
    * buckets get `prev + (next−prev) · elapsed/gap`, where prev/next are
    * the nearest observed buckets on each side, carried by four
    * ignoreNulls window functions (two window specs) — no self-join, one
    * shuffle on the address key, state ∝ span-hours per address.
    *
    * Numeric determinism: the hour sums are exact decimals; the
    * interpolation arithmetic is double with an identical expression tree
    * in the oracle twin (ns deltas are exact in double for gaps < 104
    * days). Rounding is `floor(x·1e6 + 0.5)/1e6` rather than `round(x, 6)`:
    * 2-decimal deltas times rational hour fractions systematically produce
    * values EXACTLY halfway at the 7th decimal, where Spark's round
    * (HALF_UP over the shortest string repr) and DuckDB's (binary) disagree
    * — the floor form is pure double arithmetic both engines evaluate
    * identically. Observed buckets take the `nh = ph` branch and return
    * their exact value. */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourNs = 3600L * 1000 * 1000 * 1000
    // r16 shape (same restructure as [[gapFill]]): each generated bucket's
    // prev/next observations ARE its generating observation and that
    // observation's lead(), so ONE lead() window over the ~observation
    // rows replaces the dense-grid build, the (user, hour) left join, and
    // BOTH running-carry window passes over the full grid (ascending +
    // descending sorts). The interpolation expression is token-identical —
    // same (h−ph)/(nh−ph) long-to-double division, same floor rounding —
    // and ph/pv/nh/nv take exactly the old carries' values on every row
    // (observed rows hit the nh===ph → pv branch through h===ph, since an
    // observed row is its own nearest observation on both sides), so the
    // output is bit-identical. No cache: obs has one consumer.
    //
    // CONTRACT (ADVICE r16): `value` is NOT NULL — see [[gapFill]]'s
    // contract note; an all-NULL-value hour would count here as an
    // OBSERVED bucket where the old ignoreNulls carries treated it as a
    // gap to interpolate across. Nullable-value inputs need the pre-r16
    // four-carry form.
    val obs = Tables.events(s, dir)
      .withColumn("hour_ns", col("ts") - pmod(col("ts"), lit(hourNs)))
      .groupBy(col("user_id"), col("hour_ns"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour_ns"))
    val pv = col("pv").cast("double")
    val nv = col("nv").cast("double")
    obs
      .withColumn("nh", lead(col("hour_ns"), 1).over(w))
      .withColumn("nv", lead(col("sv"), 1).over(w))
      .select(col("user_id"), col("hour_ns").as("ph"), col("sv").as("pv"),
        col("nh"), col("nv"),
        explode(sequence(col("hour_ns"),
          coalesce(col("nh") - lit(hourNs), col("hour_ns")),
          lit(hourNs))).as("hour_ns"))
      .select(col("user_id"), col("hour_ns"),
        (col("hour_ns") === col("ph")).as("observed"),
        (floor(when(col("hour_ns") === col("ph"), pv)
          .otherwise(pv + (nv - pv) *
            ((col("hour_ns") - col("ph")) / (col("nh") - col("ph"))))
          * 1e6 + 0.5) / 1e6).as("val_interp"))
      .orderBy(col("user_id"), col("hour_ns"))
  }

  val interpolateSql: String =
    """WITH obs AS (
      |  SELECT user_id, epoch_ns(date_trunc('hour', ts)) AS hour_ns,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(mn, mx, 3600000000000)) AS BIGINT) AS hour_ns
      |  FROM (SELECT user_id, MIN(hour_ns) mn, MAX(hour_ns) mx FROM obs GROUP BY 1)),
      |carried AS (
      |  SELECT g.user_id, g.hour_ns, o.sv IS NOT NULL AS observed,
      |    LAST_VALUE(CASE WHEN o.sv IS NOT NULL THEN g.hour_ns END IGNORE NULLS) OVER back AS ph,
      |    LAST_VALUE(o.sv IGNORE NULLS) OVER back AS pv,
      |    FIRST_VALUE(CASE WHEN o.sv IS NOT NULL THEN g.hour_ns END IGNORE NULLS) OVER fwd AS nh,
      |    FIRST_VALUE(o.sv IGNORE NULLS) OVER fwd AS nv
      |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.hour_ns = g.hour_ns
      |  WINDOW back AS (PARTITION BY g.user_id ORDER BY g.hour_ns
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    fwd AS (PARTITION BY g.user_id ORDER BY g.hour_ns
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, hour_ns, observed,
      |  FLOOR((CASE WHEN nh = ph THEN CAST(pv AS DOUBLE)
      |    ELSE CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
      |      ((hour_ns - ph) / (nh - ph)) END) * 1e6 + 0.5) / 1e6 AS val_interp
      |FROM carried ORDER BY user_id, hour_ns""".stripMargin

  /** Z-score anomaly detection — the classic TSDB monitoring query: events
    * whose value deviates more than 2.5 population standard deviations from
    * their address's mean. Per-key moments (n, Σv, Σv²) come from one hash
    * aggregate as EXACT decimals; mean/σ/z are then double arithmetic with
    * an expression tree the oracle twin mirrors exactly, so even the
    * boundary comparison |z| > 2.5 resolves identically on both engines
    * (same input bits + same ops = same double). The stats side is one row
    * per address — broadcast-joined back to the event stream, so the plan
    * is scan + map-side-partial aggregate + broadcast hash join: no shuffle
    * of the fact table at any scale. Keys with σ = 0 or a single point
    * cannot produce outliers and are filtered before the join. */
  def anomaly(s: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val n = col("n").cast("double")
    val sv = col("sv").cast("double")
    val qv = col("qv").cast("double")
    val stats = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("qv"))
      .filter(col("n") >= 2)
      .select(col("user_id"), (sv / n).as("mean"),
        sqrt((qv - sv * sv / n) / n).as("std"))
      .filter(col("std") > 0)
    Tables.events(s, dir)
      .join(broadcast(stats), "user_id")
      .withColumn("z", (v.cast("double") - col("mean")) / col("std"))
      .filter(abs(col("z")) > 2.5)
      .select(col("user_id"), col("event_id"), nsTruncUs(col("ts")).as("ts_ns"),
        v.cast("double").as("value"),
        (floor(col("z") * 1e6 + 0.5) / 1e6).as("z"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val anomalySql: String =
    """WITH st AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS sv,
      |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS qv
      |  FROM events GROUP BY user_id),
      |sigma AS (
      |  SELECT user_id, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    SQRT((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS std
      |  FROM st WHERE n >= 2),
      |scored AS (
      |  SELECT e.user_id, e.event_id, epoch_ns(e.ts) AS ts_ns,
      |    CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
      |    (CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - mean) / std AS z
      |  FROM events e JOIN sigma USING (user_id) WHERE std > 0)
      |SELECT user_id, event_id, ts_ns, value,
      |  FLOOR(z * 1e6 + 0.5) / 1e6 AS z
      |FROM scored WHERE ABS(z) > 2.5
      |ORDER BY user_id, event_id""".stripMargin

  /** OHLC bars: per (user, hour) open/high/low/close + volume — the classic
    * downsample-preserving-endpoints shape. One hash aggregate: open/close
    * are `min_by`/`max_by` over the (µs-time, event_id) struct (ordering
    * matches the oracle's row_number pin, ties broken by event_id), so no
    * per-row window pass over the fact table is needed. Scales as a single
    * map-side-combined aggregate keyed by (user, hour). */
  def ohlc(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    Tables.events(s, dir)
      .select(col("user_id"),
        (col("ts") - pmod(col("ts"), lit(hourNs))).as("hr_ns"),
        nsTruncUs(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("hr_ns"))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open_val"),
        max(col("value")).as("high_val"),
        min(col("value")).as("low_val"),
        max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close_val"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      .orderBy(col("user_id"), col("hr_ns"))
  }

  val ohlcSql: String =
    """SELECT user_id, hr_ns,
      |  max(CASE WHEN rn_a = 1 THEN value END) AS open_val,
      |  max(value) AS high_val, min(value) AS low_val,
      |  max(CASE WHEN rn_d = 1 THEN value END) AS close_val,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM (
      |  SELECT user_id, epoch_ns(date_trunc('hour', ts)) AS hr_ns, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |GROUP BY user_id, hr_ns ORDER BY user_id, hr_ns""".stripMargin

  /** Hopping (sliding) windows: 2-hour windows advancing hourly, so every
    * event lands in exactly 2 windows. Uses Spark's native `window()`
    * table-valued generator (the same operator Structured Streaming uses
    * for sliding aggregations); the oracle reproduces the fan-out with an
    * explicit unnest of the two candidate window starts. Row fan-out is
    * bounded (duration/slide = 2×), then one hash aggregate. */
  def slidingWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      .select(window(col("ts_us"), "2 hours", "1 hour").as("w"),
        col("event_type"), col("value"))
      .groupBy((unix_micros(col("w.start")) * 1000L).as("ws_ns"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("ws_ns"), col("event_type"))

  val slidingWindowsSql: String =
    """SELECT ws_ns, event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT (epoch_us(date_trunc('hour', ts)) - k*3600000000)*1000 AS ws_ns,
      |    event_type, value
      |  FROM events, unnest([0,1]) AS t(k))
      |GROUP BY ws_ns, event_type ORDER BY ws_ns, event_type""".stripMargin

  /** 8-tap truncated EWMA (α = 0.3) of each user's view-value series — the
    * FIR form of exponential smoothing, the online-smoothing op a metrics
    * pipeline runs per key. A full recursive EWMA is a sequential fold
    * (unbounded state per key — the mapGroupsWithState streaming form);
    * the 8-tap truncation keeps >94% of the mass (0.7⁸ ≈ 0.058 residual)
    * and becomes a pure window expression: 8 lag()s over ONE window spec —
    * one shuffle on user_id, no state.
    *
    * Determinism: the taps are literal doubles embedded identically in the
    * SQL twin (Double.toString round-trips), the weighted sum is a
    * left-associated chain in both engines (same textual order = same IEEE
    * fold), and the normalizer drops taps whose lag doesn't exist at the
    * series head, so early rows renormalize rather than decay toward 0. */
  private val EwmaAlpha = 0.3
  private val EwmaTaps: Seq[Double] =
    (0 until 8).map(k => EwmaAlpha * math.pow(1 - EwmaAlpha, k))

  def ewma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val lags = EwmaTaps.indices.map(k =>
      if (k == 0) col("v") else lag(col("v"), k).over(w))
    val num = lags.zip(EwmaTaps)
      .map { case (c, t) => coalesce(c, lit(0.0)) * lit(t) }
      .reduceLeft(_ + _)
    val den = lags.zip(EwmaTaps)
      .map { case (c, t) => when(c.isNotNull, lit(t)).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    Tables.events(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), nsTruncUs(col("ts")).as("ts_ns"), col("event_id"),
        col("value").cast("decimal(18,2)").cast("double").as("v"))
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("v").as("value"),
        (floor(num / den * 1e6 + 0.5) / 1e6).as("ewma"))
      .orderBy(col("user_id"), col("ts_ns"), col("event_id"))
  }

  val ewmaSql: String = {
    val lagDefs = (1 until 8)
      .map(k => s"lag(v, $k) OVER w AS lag$k").mkString(",\n      |    ")
    val num = EwmaTaps.indices
      .map(k => if (k == 0) s"v * ${EwmaTaps(0)}"
                else s"COALESCE(lag$k, 0) * ${EwmaTaps(k)}")
      .mkString(" + ")
    val den = EwmaTaps.indices
      .map(k => if (k == 0) s"${EwmaTaps(0)}"
                else s"CASE WHEN lag$k IS NOT NULL THEN ${EwmaTaps(k)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'view'),
      |lagged AS (
      |  SELECT user_id, ts_ns, event_id, v,
      |    $lagDefs
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
      |SELECT user_id, ts_ns, event_id, v AS value,
      |  FLOOR(($num) / ($den) * 1e6 + 0.5) / 1e6 AS ewma
      |FROM lagged ORDER BY user_id, ts_ns, event_id""".stripMargin
  }

  /** Point updates → validity intervals (the temporal-table / SCD-2 read
    * shape): each purchase event opens an interval [effective_from,
    * effective_to) that the user's NEXT purchase closes; the newest
    * interval stays open (NULL). This is how a time-store's per-address
    * update log becomes an as-of-queryable snapshot table
    * (`/root/reference/lib/TimeStore/Core.hs:139-156` — the per-address
    * scan whose consumer reconstructs state between updates).
    *
    * Plan: ONE hash exchange on user_id feeding two sorts — the
    * same-timestamp dedup (latest event_id wins, like `updateLatest`) is a
    * lag() inequality over (ts, event_id desc) rather than a second
    * finer-keyed window, so Spark reuses the exchange; lead() then closes
    * each interval. Per-key history scans stay linear (running frames,
    * never shrinking ones). */
  def intervals(s: SparkSession, dir: String): DataFrame = {
    val dw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id").desc)
    val iw = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), nsTruncUs(col("ts")).as("ts_ns"),
        col("value").cast("decimal(18,2)").as("v"), col("event_id"))
      // first row of each ts group under (ts asc, event_id desc) = the
      // highest event_id at that timestamp — the latest-wins winner
      .withColumn("__prev_ts", lag(col("ts_ns"), 1).over(dw))
      .filter(col("__prev_ts").isNull || col("__prev_ts") =!= col("ts_ns"))
      .select(col("user_id"), col("ts_ns").as("effective_from"),
        lead(col("ts_ns"), 1).over(iw).as("effective_to"),
        col("v").cast("double").as("value"))
      .orderBy(col("user_id"), col("effective_from"))
  }

  val intervalsSql: String =
    """WITH base AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
      |    row_number() OVER (PARTITION BY user_id, epoch_ns(ts)
      |      ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, ts_ns AS effective_from,
      |  lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns) AS effective_to,
      |  value
      |FROM base WHERE rn = 1
      |ORDER BY user_id, effective_from""".stripMargin

  /** Seasonal decomposition, hour-of-day profile form: the per-(type, hour)
    * seasonal mean from exact decimal sums, joined back (broadcast — the
    * profile is types×24 rows at ANY corpus size) to rank each type's
    * top-3 seasonally-adjusted deviations. This is [[anomaly]]'s global
    * z-score with the periodic component removed first — the difference
    * that matters for diurnal metrics, where a midnight dip is normal and
    * the same value at noon is the anomaly. One profile aggregate + one
    * broadcast join + one per-type window; the fact stream shuffles once. */
  def seasonal(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      expr("(ts div 3600000000000) % 24").as("hod"),
      col("event_id"), col("value").cast("decimal(18,2)").as("v"))
    val prof = ev.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("event_type"), col("hod"),
        round(col("sv").cast("double") / col("n"), 6).as("mean_v"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("residual")).desc, col("event_id"))
    ev.join(broadcast(prof), Seq("event_type", "hod"))
      .select(col("event_type"), col("hod"), col("event_id"),
        col("v").cast("double").as("value"),
        round(col("v").cast("double") - col("mean_v"), 6).as("residual"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("rk").cast("long").as("rk"),
        col("event_id"), col("hod"), col("value"), col("residual"))
      .orderBy(col("event_type"), col("rk"))
  }

  val seasonalSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(epoch_ns(ts) // 3600000000000 % 24 AS BIGINT) AS hod,
      |    event_id, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |prof AS (
      |  SELECT event_type, hod,
      |    ROUND(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_v
      |  FROM ev GROUP BY event_type, hod),
      |j AS (
      |  SELECT e.event_type, e.hod, e.event_id,
      |    CAST(e.v AS DOUBLE) AS value,
      |    ROUND(CAST(e.v AS DOUBLE) - p.mean_v, 6) AS residual
      |  FROM ev e JOIN prof p
      |    ON e.event_type = p.event_type AND e.hod = p.hod)
      |SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, hod, value, residual
      |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY abs(residual) DESC, event_id) AS rk FROM j)
      |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin

  /** Contiguous event-sequence matching (MATCH_RECOGNIZE-lite): count
    * STRICT view→click→purchase runs per user — no intervening events —
    * complementing [[graft.queries.Windows]]' funnel_conversion, whose
    * steps may be arbitrarily separated. The per-user journey is folded to
    * an initials string with a deterministic (ts, event_id) order (Spark:
    * sort the collected structs — collect_list order is partition-
    * dependent, the sort pins it), and occurrences are counted by
    * length-difference after a plain substring replace — identical
    * left-to-right non-overlap semantics in both engines, no regex
    * dialect in play. One aggregate; journeys are per-user-bounded. */
  def seqPattern(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"),
      col("ts").as("tu"), col("event_id"),
      substring(col("event_type"), 1, 1).as("ini"))
    ev.groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("tu"), col("event_id"), col("ini")))),
          x => x.getField("ini")), "").as("seq"))
      .select(col("user_id"), length(col("seq")).cast("long").as("n_events"),
        expr("(length(seq) - length(replace(seq, 'vcp', ''))) div 3")
          .cast("long").as("n_funnels"))
      .filter(col("n_funnels") > 0)
      .orderBy(col("user_id"))
  }

  val seqPatternSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type,1,1), '' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
      |  CAST((length(seq) - length(replace(seq, 'vcp', ''))) // 3 AS BIGINT) AS n_funnels
      |FROM s WHERE (length(seq) - length(replace(seq, 'vcp', ''))) // 3 > 0
      |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_seasonal"       -> seasonal,
    "ts_seq_pattern"    -> seqPattern,
    "ts_intervals"      -> intervals,
    "ts_anomaly"        -> anomaly,
    "ts_range_scan"     -> rangeScan,
    "ts_store_roundtrip" -> storeRoundtrip,
    "ts_store_delete" -> storeDelete,
    "ts_store_snapshot" -> storeSnapshot,
    "ts_store_sql_timetravel" -> storeSqlTimeTravel,
    "stream_store_delete" -> streamStoreDelete,
    "ts_store_stats" -> storeStats,
    "ts_store_kv_delete" -> storeKvDelete,
    "ts_store_sql"      -> storeSql,
    "ts_store_sql_write" -> storeSqlWrite,
    "ts_store_sql_delete" -> storeSqlDelete,
    "ts_store_latest"   -> storeLatest,
    "ts_store_extended" -> storeExtended,
    "ts_store_mutable"  -> storeMutable,
    "ts_store_wire"     -> storeWire,
    "ts_store_stream"   -> storeStream,
    "stream_store_tail" -> streamStoreTail,
    "ts_latest_per_key" -> latestPerKey,
    "ts_downsample"     -> downsample,
    "ts_gapfill"        -> gapFill,
    "ts_interpolate"    -> interpolate,
    "ts_ohlc"           -> ohlc,
    "ts_sliding"        -> slidingWindows,
    "ts_ewma"           -> ewma
  )

  def oracleSql: Map[String, String] = Map(
    "ts_seasonal"       -> seasonalSql,
    "ts_seq_pattern"    -> seqPatternSql,
    "ts_intervals"      -> intervalsSql,
    "ts_anomaly"        -> anomalySql,
    "ts_range_scan"     -> rangeScanSql,
    "ts_store_roundtrip" -> storeRoundtripSql,
    "ts_store_delete" -> storeDeleteSql,
    "ts_store_snapshot" -> storeSnapshotSql,
    "ts_store_sql_timetravel" -> storeSqlTimeTravelSql,
    "stream_store_delete" -> streamStoreDeleteSql,
    "ts_store_stats" -> storeStatsSql,
    "ts_store_kv_delete" -> storeKvDeleteSql,
    "ts_store_sql"      -> storeSqlSql,
    "ts_store_sql_write" -> storeSqlWriteSql,
    "ts_store_sql_delete" -> storeSqlDeleteSql,
    "ts_store_latest"   -> storeLatestSql,
    "ts_store_extended" -> storeExtendedSql,
    "ts_store_mutable"  -> storeMutableSql,
    "ts_store_wire"     -> storeWireSql,
    "ts_store_stream"   -> storeStreamSql,
    "stream_store_tail" -> streamStoreTailSql,
    "ts_latest_per_key" -> latestPerKeySql,
    "ts_downsample"     -> downsampleSql,
    "ts_gapfill"        -> gapFillSql,
    "ts_interpolate"    -> interpolateSql,
    "ts_ohlc"           -> ohlcSql,
    "ts_sliding"        -> slidingWindowsSql,
    "ts_ewma"           -> ewmaSql
  )
}
