package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{EpochIndex, Point}
import graft.functions.PointFunctions

/** The namespace store — the engine's equivalent of the reference's public
  * API (`lib/TimeStore.hs`): register, write, read, latest, rollover.
  *
  * Layout per namespace under a root path (any Hadoop FileSystem — local,
  * HDFS, S3A, CephFS):
  *
  * {{{
  * <root>/<ns>/points/kind=<simple|extended>/epoch=<E>/bucket=<B>/part-....parquet
  * <root>/<ns>/meta/simple_index      (lines "epoch,buckets")
  * <root>/<ns>/meta/extended_index
  * <root>/<ns>/meta/latest            (line "simpleLatest,extendedLatest")
  * }}}
  *
  * Design mapping (SURVEY §7): the reference's lock-protected append +
  * offset/pointer machinery is replaced by Parquet partitioned appends —
  * `kind`/`epoch`/`bucket` are partition columns, so Catalyst partition
  * pruning plays the role of `targetObjs` (`StoreHelpers.hs:78-104`) and
  * variable-length BINARY subsumes the extended-bucket blob store. Writers
  * are declared single-process (the reference needs locks because multiple
  * daemons share Ceph; a Spark deployment runs one streaming writer per
  * namespace — see [[graft.streaming.StreamingIngest]]).
  *
  * Scale notes: ingest shuffles once on (kind, epoch, bucket) to write one
  * file per bucket partition; reads prune partitions from predicates before
  * any IO; nothing is collected to the driver except the tiny index.
  */
object TimeStore {

  /** Thrown when the writer lease is held by another live writer. A
    * dedicated subtype so callers with a retry policy (MutableKV's bounded
    * insert retry) can match contention precisely — catching every
    * IllegalStateException retried genuinely fatal states ("invalid
    * namespace", rollover double-check) 50 times before surfacing
    * (ADVICE r6 low). Extends ISE so pre-existing handlers keep working. */
  final class LeaseContentionException(msg: String) extends IllegalStateException(msg)

  val DefaultRolloverBytes: Long = 4L << 20  // Core.hs:86-90

  /** Writer-lease staleness horizon — the reference's 120 s lock watchdog
    * (`Core.hs:159-164`): a lease older than this is presumed abandoned
    * (crashed writer) and may be broken by the next writer. */
  val LeaseTimeoutMs: Long = 120000L

  final case class Namespace(root: String, ns: String) {
    def dir: String = s"$root/$ns"
    /** Generation-0 points directory; the LIVE generation is resolved by
      * [[livePointsPath]] (reader-safe compaction). */
    def pointsDir: String = s"$dir/points"
    def metaDir: String = s"$dir/meta"
  }

  /** Validate a namespace name (`Core.hs:226-230`): non-empty, no '_', and
    * not ending in the mutable-view shadow suffix — the reference's no-'_'
    * rule is what made its `_INTERNAL` shadow collision-proof, so the
    * '-INTERNAL' shadow needs the equivalent guard here (a user namespace
    * 'foo-INTERNAL' would otherwise alias the mutable shadow of 'foo' and
    * interleave time-series points with seq-numbered records). */
  def namespace(root: String, ns: String): Namespace = {
    require(ns.nonEmpty && !ns.contains('_'),
      s"invalid namespace '$ns': must be non-empty and not contain '_'")
    require(!ns.endsWith("-INTERNAL"),
      s"invalid namespace '$ns': the '-INTERNAL' suffix is reserved for mutable-view shadows")
    Namespace(root, ns)
  }

  // ---- metadata (the reference's index + latest objects) ----------------

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomic metadata publish: write a sibling temp file, then rename over
    * the destination. Readers are lock-free BY DESIGN, so an in-place
    * `create(overwrite)` — which truncates first — would expose a window
    * where a concurrent `fetchIndex`/`fetchLatest` reads an empty or torn
    * file and either throws or silently sees a shorter index (skipping the
    * newest epoch's partitions). Rename is atomic on HDFS-like stores and
    * POSIX. */
  private def writeSmall(spark: SparkSession, path: String, body: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, p)) {
      // a store whose rename won't clobber: delete + rename — the brief
      // absence window reads as not-yet-written (None), never as torn data
      f.delete(p, false)
      if (!f.rename(tmp, p)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"atomic publish failed for $path")
      }
    }
  }

  private def readSmall(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(p)
      try { in.readFully(0, buf); Some(new String(buf, StandardCharsets.UTF_8)) }
      finally in.close()
    } catch {
      // exists-then-open TOCTOU: on a store whose rename won't clobber,
      // writeSmall's delete+rename fallback removes the file for an instant
      // on EVERY publish — a concurrent lock-free reader racing that window
      // must see not-yet-visible (None), not a crash (ADVICE r6 medium)
      case _: java.io.FileNotFoundException => None
    }
  }

  /** [[readSmall]] with one bounded retry on absence, for metadata whose
    * absence may be a transient publish window rather than a fact: on
    * stores without clobbering rename, writeSmall's delete+rename fallback
    * makes every index/latest publish pass through a brief missing-file
    * state, and a single re-probe after it comfortably outlasts that
    * two-metadata-op window. Not used by the lease/marker paths, where
    * absence is a real state the protocol branches on. */
  private def readSmallSettled(spark: SparkSession, path: String): Option[String] =
    readSmall(spark, path).orElse { Thread.sleep(25); readSmall(spark, path) }

  private def indexPath(n: Namespace, kind: String) = s"${n.metaDir}/${kind}Index"

  private def writeIndex(spark: SparkSession, n: Namespace, kind: String,
                         idx: EpochIndex): Unit =
    writeSmall(spark, indexPath(n, kind),
      idx.entries.map { case (e, b) => s"$e,$b" }.mkString("\n"))

  def fetchIndex(spark: SparkSession, n: Namespace, kind: String): Option[EpochIndex] =
    readSmallSettled(spark, indexPath(n, kind)).map { body =>
      val idx = EpochIndex(body.split('\n').toVector.filter(_.nonEmpty).map { l =>
        val Array(e, b) = l.split(','); (e.toLong, b.toInt)
      })
      // Publish for BucketPruneRule (ad-hoc SQL over the raw table gets the
      // same targetObjs pruning the read path builds statically).
      spark.conf.set(s"spark.graft.index.${n.ns}.$kind",
        idx.entries.map { case (e, b) => s"$e:$b" }.mkString(","))
      idx
    }

  private def mustFetchIndex(spark: SparkSession, n: Namespace, kind: String): EpochIndex =
    fetchIndex(spark, n, kind).getOrElse(
      throw new IllegalStateException(s"invalid namespace: ${n.ns} ($kind index missing)"))

  /** The per-kind high-water marks (`simple_latest`/`extended_latest`,
    * `Core.hs:176-185`). */
  def fetchLatest(spark: SparkSession, n: Namespace): (Long, Long) =
    readSmallSettled(spark, s"${n.metaDir}/latest").map { body =>
      val Array(s, e) = body.trim.split(','); (s.toLong, e.toLong)
    }.getOrElse((0L, 0L))

  private def writeLatest(spark: SparkSession, n: Namespace, s: Long, e: Long): Unit =
    writeSmall(spark, s"${n.metaDir}/latest", s"$s,$e")

  // ---- DDL (O23) --------------------------------------------------------

  def isRegistered(spark: SparkSession, n: Namespace): Boolean =
    fetchIndex(spark, n, "simple").isDefined

  /** Idempotent namespace create (`TimeStore.hs:73-95`): seed both indexes
    * with `(0, bucketCount)`. */
  def register(spark: SparkSession, n: Namespace,
               simpleBuckets: Int, extendedBuckets: Int): Unit =
    if (!isRegistered(spark, n)) {
      writeIndex(spark, n, "simple", EpochIndex.seed(simpleBuckets))
      writeIndex(spark, n, "extended", EpochIndex.seed(extendedBuckets))
    }

  // ---- writer fence ------------------------------------------------------

  private def leasePath(n: Namespace) = new Path(s"${n.metaDir}/write.lease")

  /** Run `body` holding the namespace's exclusive writer lease.
    *
    * The engine declares single-writer-per-namespace (the reference needs
    * inter-daemon locks because many daemons share Ceph, `Core.hs:125-164`);
    * this fence makes the declaration ENFORCED rather than assumed: a second
    * concurrent writer fails loudly instead of silently interleaving the
    * latest/index read-modify-writes. `create(overwrite = false)` is atomic
    * on HDFS-like stores; a lease older than [[LeaseTimeoutMs]] is presumed
    * crashed and broken (the reference's watchdog analog).
    *
    * Hardened contract (ADVICE r2):
    *  - ownership is the lease CONTENT (this writer's UUID), verified after
    *    acquisition — two writers racing the same stale-break can
    *    interleave delete/create, and the re-read makes exactly one of
    *    them proceed;
    *  - a daemon heartbeat refreshes the lease mtime every
    *    LeaseTimeoutMs/4 while `body` runs, so a legitimate long write or
    *    compact (likely at the scale this code targets) is never broken as
    *    "stale" mid-flight — the holder-side half of the reference's
    *    watchdog pairing (`Core.hs:159-164`);
    *  - release deletes the lease only if it still carries this writer's
    *    UUID, so a broken-and-reacquired lease is never deleted out from
    *    under its new owner.
    */
  def withWriterLease[T](spark: SparkSession, n: Namespace)(body: => T): T = {
    val f = fs(spark, n.metaDir)
    val p = leasePath(n)
    val uuid = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        if (f.getScheme == "file") {
          // Hadoop's local create(overwrite=false) is exists-then-open — a
          // TOCTOU two racing writers can both win. File.createNewFile is
          // O_CREAT|O_EXCL: truly atomic, exactly one creator.
          val raw = new java.io.File(p.toUri.getPath)
          raw.getParentFile.mkdirs()
          if (!raw.createNewFile()) false
          else {
            java.nio.file.Files.write(raw.toPath,
              uuid.getBytes(StandardCharsets.UTF_8))
            true
          }
        } else {
          // atomic on HDFS-like stores
          val out = f.create(p, false)
          try out.write(uuid.getBytes(StandardCharsets.UTF_8)) finally out.close()
          true
        }
      } catch { case _: java.io.IOException => false }
    def ownsLease(): Boolean =
      try readSmall(spark, p.toString).contains(uuid)
      catch { case _: java.io.IOException => false }
    // Stale-lease break. Probe staleness + content, then break by ATOMIC
    // RENAME to a breaker-unique tombstone (two racing breakers can't both
    // rename the same file), then verify the tombstone still holds the
    // probed stale content — if a fresh lease slipped in between probe and
    // rename we grabbed a live writer's lease, so put it back and give up.
    // This closes the delete-based race (a breaker's unconditional delete
    // landing after another writer's fresh create removed that lease); the
    // residual exposure is only the inherent one — an owner alive but
    // heartbeat-dead past the 120s horizon looks identical to a crash.
    def breakStale(): Boolean =
      try {
        val st = f.getFileStatus(p)
        if (System.currentTimeMillis() - st.getModificationTime <= LeaseTimeoutMs)
          return false
        val staleContent = readSmall(spark, p.toString)
        val tomb = new Path(p.getParent, s"${p.getName}.broken-$uuid")
        if (!f.rename(p, tomb)) return false
        if (readSmall(spark, tomb.toString) == staleContent) {
          f.delete(tomb, false); true
        } else {
          // fresh lease grabbed by mistake: restore it (or drop the tomb if
          // its owner already recreated) and fail this acquisition
          if (!f.rename(tomb, p)) f.delete(tomb, false)
          false
        }
      } catch { case _: java.io.IOException => false }
    // After create, verify ownership TWICE with a short settle between —
    // best-effort detection of a breaker having renamed our fresh lease
    // away in the probe/rename window (it restores the file, but we may
    // observe the gap and abort spuriously — the safe direction).
    val acquired = (tryCreate() || (breakStale() && tryCreate())) &&
      ownsLease() && { Thread.sleep(10); ownsLease() }
    if (!acquired) {
      // If the lease on disk carries OUR uuid, the create succeeded and an
      // ownership probe failed spuriously (transient read error / breaker
      // gap) — clean it up, or the namespace stays self-locked for the
      // full stale horizon with no live owner.
      try { if (ownsLease()) f.delete(p, false) }
      catch { case _: java.io.IOException => () }
      throw new LeaseContentionException(
        s"namespace '${n.ns}' already has an active writer (lease $p); " +
          s"concurrent writers are not supported — stale leases break after ${LeaseTimeoutMs / 1000}s")
    }
    val beat = new Thread(() => {
      try while (!Thread.interrupted()) {
        Thread.sleep(LeaseTimeoutMs / 4)
        // Catch everything non-fatal, not just IOException: a FileSystem
        // without setTimes support throws UnsupportedOperationException,
        // and a silently dead heartbeat makes any >120s write/compact
        // stale-breakable mid-flight — the exact failure this prevents.
        try f.setTimes(p, System.currentTimeMillis(), -1L)
        catch { case scala.util.control.NonFatal(_) => () }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${n.ns}")
    beat.setDaemon(true)
    beat.start()
    try {
      // heal any crash in a previous compaction's swap window before
      // touching the store (cheap: three existence probes)
      recoverStranded(spark, n)
      body
    } finally {
      beat.interrupt()
      beat.join(1000)
      if (ownsLease()) f.delete(p, false)
    }
  }

  // ---- ingest (O1/O2/O16/O18/O20) ---------------------------------------

  /** Bulk-write a mixed wire blob (`writeEncoded`, `TimeStore.hs:98-137`).
    * Decodes driver-side (the blob arrived at the driver anyway), then runs
    * the distributed [[writePoints]] path. */
  def writeEncoded(spark: SparkSession, n: Namespace, blob: Array[Byte],
                   rolloverBytes: Long = DefaultRolloverBytes): Unit = {
    val points = PointCodec.decode(blob).fold(
      err => throw new IllegalArgumentException(s"invalid payload: $err"),
      identity)
    import spark.implicits._
    writePoints(spark, n, spark.createDataset(points), rolloverBytes)
  }

  /** Fault-injection seams for the batch write path (StoreProtocolSpec's
    * crash tests): a registered seam throws ONCE at that point, simulating
    * a writer that died between two non-atomic protocol steps. Production
    * cost: one concurrent-map probe per batch, zero when unused. (The
    * exception path releases the lease via withWriterLease's finally — a
    * kill -9 would instead leave a stale lease, and THAT state is already
    * covered by the 120 s break contract tests; what these seams add is
    * the partial on-disk protocol state between commit points.) */
  private[graft] val crashSeams =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def crashPoint(name: String): Unit =
    if (crashSeams.remove(name))
      throw new RuntimeException(s"injected crash at $name")

  /** Distributed ingest: route each point to (kind, epoch, bucket) via the
    * current indexes (`groupMixed`'s partitioning, `Algorithms.hs:111-178`,
    * minus the pointer/offset machinery), append as partitioned Parquet,
    * advance the latest watermarks monotonically (`updateLatest`,
    * `StoreHelpers.hs:227-265`), then roll over any oversized latest-epoch
    * bucket (`maybeRollover`, `StoreHelpers.hs:194-221`).
    */
  def writePoints(spark: SparkSession, n: Namespace, points: Dataset[Point],
                  rolloverBytes: Long = DefaultRolloverBytes): Unit =
    withWriterLease(spark, n) {
      val sIdx = mustFetchIndex(spark, n, "simple")
      val eIdx = mustFetchIndex(spark, n, "extended")

      val routed = route(points.toDF(), sIdx, eIdx)
      // Per-kind max collected DURING the write via observe() — one source
      // scan per batch, not a second evaluation of the routing CASE chains
      // (VERDICT r1 #6). Unsigned max: observe over the sign-flipped time
      // (unsigned order on x == signed order on x ^ MinValue).
      val obs = Observation()
      def flippedMax(kind: String) =
        max(when(col("kind") === kind,
          col("time").bitwiseXOR(lit(Long.MinValue)))).as(kind)
      // One shuffle on the partition keys so each (kind,epoch,bucket) writes
      // a single file per batch — the Parquet analog of the reference's one
      // batched append per bucket (StoreHelpers.hs:127-137).
      val target = livePointsPath(spark, n).getOrElse(n.pointsDir)
      routed
        .observe(obs, flippedMax("simple"), flippedMax("extended"))
        .repartition(col("kind"), col("epoch"), col("bucket"))
        .write.mode(SaveMode.Append)
        .partitionBy("kind", "epoch", "bucket")
        .parquet(target)
      // birth marker for generation 0 (and self-healing for pre-marker
      // stores): one exists() probe per batch, write-once
      stampBornAt(spark, fs(spark, target), new Path(target))
      crashPoint("after-parquet-commit")

      def unflip(v: Any): Long = v match {
        case l: java.lang.Long => l.longValue() ^ Long.MinValue
        case _ => 0L  // no rows of that kind in the batch
      }
      val metrics = obs.get
      val (s0, e0) = fetchLatest(spark, n)
      val sMax = maxU(s0, unflip(metrics.getOrElse("simple", null)))
      val eMax = maxU(e0, unflip(metrics.getOrElse("extended", null)))
      writeLatest(spark, n, sMax, eMax)
      crashPoint("after-write-latest")

      // rollover probes only the kinds this batch actually wrote — sizes
      // are unchanged otherwise, and the probe is a per-bucket listing on
      // the hot path of every micro-batch
      if (metrics.getOrElse("simple", null) != null)
        maybeRollover(spark, n, "simple", sIdx, sMax, rolloverBytes, target)
      if (metrics.getOrElse("extended", null) != null)
        maybeRollover(spark, n, "extended", eIdx, eMax, rolloverBytes, target)
    }

  /** Add routing columns: epoch by strict-floor index lookup on time
    * (`Index.hs:76-88`), bucket by `placeBucket`. The index is tiny (a few
    * entries), so the lookup compiles to a literal CASE chain — fully
    * codegen'd, no join, no broadcast needed. Extended points route by the
    * extended index, simple by the simple one. */
  private[graft] def route(df: DataFrame, sIdx: EpochIndex, eIdx: EpochIndex): DataFrame = {
    // Ascending fold, each entry's `when` wrapping the previous as its
    // otherwise ⇒ outermost test is the newest epoch: strict unsigned
    // time > epoch, so a boundary point stays in the older epoch.
    def epochExpr(idx: EpochIndex) =
      idx.entries.drop(1).foldLeft(lit(idx.entries.head._1)) {
        case (acc, (e, _)) =>
          when(PointFunctions.unsignedGt(col("time"), lit(e)), lit(e)).otherwise(acc)
      }
    def bucketsExpr(idx: EpochIndex, epochCol: org.apache.spark.sql.Column) =
      idx.entries.foldLeft(lit(idx.entries.head._2)) {
        case (acc, (e, b)) => when(epochCol === lit(e), lit(b)).otherwise(acc)
      }
    val isExt = (col("address").bitwiseAND(lit(1L))) === lit(1L)
    val withKind = df.withColumn("kind", when(isExt, "extended").otherwise("simple"))
    val epochCol = when(isExt, epochExpr(eIdx)).otherwise(epochExpr(sIdx))
    val bCount = when(isExt, bucketsExpr(eIdx, epochCol))
      .otherwise(bucketsExpr(sIdx, epochCol))
    withKind
      .withColumn("epoch", epochCol)
      .withColumn("bucket", PointFunctions.placeBucket(col("address"), bCount))
  }

  /** Rollover (`maybeRollover`, `StoreHelpers.hs:194-221`): if any bucket of
    * the latest epoch exceeds the threshold, append `(latest, buckets)` to
    * the index so subsequent writes open a fresh epoch. Old epochs are never
    * rolled (their buckets are naturally immutable). */
  private def maybeRollover(spark: SparkSession, n: Namespace, kind: String,
                            idx: EpochIndex, latest: Long,
                            threshold: Long, pointsPath: String): Unit = {
    val (epoch, buckets) = idx.latestEntry
    val f = fs(spark, pointsPath)
    val epochDir = new Path(s"$pointsPath/kind=$kind/epoch=$epoch")
    if (!f.exists(epochDir)) return
    // bucket dirs hold plain files (no nesting), so one listStatus per
    // bucket replaces getContentSummary's recursive walk — the summary RPC
    // is namenode-heavy on HDFS and this probe sits on the per-batch hot
    // path of a streaming ingest
    val maxBucketBytes = f.listStatus(epochDir).map { st =>
      if (st.isDirectory) f.listStatus(st.getPath).map(_.getLen).sum else 0L
    }.foldLeft(0L)(math.max)
    if (maxBucketBytes > threshold && java.lang.Long.compareUnsigned(latest, epoch) > 0) {
      // Double-check against a concurrent rollover (StoreHelpers.hs:213-219):
      // re-read the index and only append if unchanged.
      val current = mustFetchIndex(spark, n, kind)
      if (current == idx) writeIndex(spark, n, kind, current.append(latest, buckets))
    }
  }

  private def maxU(a: Long, b: Long): Long =
    if (java.lang.Long.compareUnsigned(a, b) >= 0) a else b

  // ---- read path (O5/O6/O11/O12/O13) ------------------------------------

  /** Scan contract (`readSimple`, `TimeStore.hs:139-156`): inclusive
    * unsigned time range, optional address set, sorted (time, address),
    * first-wins dedup on (address, time). Returns simple points only.
    *
    * Bucket pruning: epochs come from the index range lookup and, when an
    * address set is given, the exact bucket list per epoch is the
    * `placeBucket` image (`targetObjs`, `StoreHelpers.hs:78-104`) — both
    * become partition-column predicates Catalyst prunes before any IO.
    */
  def readSimple(spark: SparkSession, n: Namespace, start: Long, end: Long,
                 addrs: Seq[Long], generation: Option[Long] = None): DataFrame =
    readKind(spark, n, "simple", start, end, addrs, generation)
      .select("address", "time", "payload")

  /** `readExtended` (`TimeStore.hs:158-177`): same contract with the blob
    * column; the pointer-dereference join is pre-done at ingest.
    *
    * `generation = Some(g)` on either read pins the scan to generation
    * `g`'s immutable files — the snapshot/lineage read (see
    * [[pinGeneration]]): no pending-tombstone overlay applies, so the
    * result is reproducible bit-for-bit for as long as the pin holds. */
  def readExtended(spark: SparkSession, n: Namespace, start: Long, end: Long,
                   addrs: Seq[Long], generation: Option[Long] = None): DataFrame =
    readKind(spark, n, "extended", start, end, addrs, generation)
      .select("address", "time", "payload", "value")

  /** STREAMING tail of a namespace's committed points — the read arm of
    * the store's streaming story (ingest: [[graft.streaming
    * .StreamingIngest]]; takedown: [[deletePointsBatch]]; this closes the
    * loop: the store as a streaming SOURCE of record, feeding incremental
    * index builds / decontamination / downstream training pipelines).
    *
    * A Structured Streaming file source over ONE generation's leaf files:
    * the writer protocol commits every data file by staged-then-rename
    * (hidden while staged), so each committed file surfaces in exactly one
    * micro-batch, atomically, in commit order — the append CDC feed. Rows
    * carry the full routed schema (point columns + kind/epoch/bucket), raw:
    * no dedup, no tombstone overlay — the tail is the feed of what was
    * WRITTEN; compose [[graft.operators.TimeSeriesOps]] / the takedown
    * stream downstream for read semantics.
    *
    * Generation discipline: the tail binds to the generation resolved HERE
    * (live by default, or an explicit pinned one). Compaction/vacuum write
    * their rewrite into a NEW `points-g<k>` directory, OUTSIDE this path —
    * so a maintenance pass can never double-feed rewritten copies of rows
    * the tail already delivered. The cost of that safety: appends after a
    * generation swap land in the new generation, invisible here — a
    * long-lived tail should [[pinGeneration]] its generation (retirement
    * would otherwise empty the directory from under the source's listing)
    * and restart on a fresh checkpoint when [[storeGenerations]] shows a
    * swap. 100 TB: per-trigger cost is one recursive listing of the
    * generation's leaves (the standard file-source cost — bounded by file
    * count, which compaction exists to keep low), decode is the columnar
    * parquet scan itself, zero shuffle; `maxFilesPerTrigger` bounds batch
    * size and the checkpoint's seen-files log grows with FILE count, never
    * row count. */
  def tailPoints(spark: SparkSession, n: Namespace,
                 generation: Option[Long] = None,
                 maxFilesPerTrigger: Int = 32): DataFrame = {
    mustFetchIndex(spark, n, "simple") // loud on an unregistered namespace
    val base = generation.map(g => snapshotPath(spark, n, g))
      .orElse(livePointsPath(spark, n))
      .getOrElse(throw new IllegalStateException(
        s"namespace '${n.ns}' has never been written — nothing to tail " +
          "(the file source needs an existing generation directory)"))
    spark.readStream
      .schema(storeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(base)
  }

  /** The routed on-disk schema: the point columns plus the partition
    * columns. Declared explicitly on every scan so a registered namespace
    * whose first append is still in flight (or crashed mid-job, leaving
    * only `_temporary`) reads as EMPTY instead of failing schema inference
    * — the reference's missing-object ⇒ empty-bytes behavior
    * (`Memory.hs:72-76`). */
  private def storeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    Point.schema
      .add("kind", StringType).add("epoch", LongType).add("bucket", IntegerType)
  }

  /** Empty result with the store schema — a registered namespace that has
    * never been written has no parquet directory yet. */
  private def emptyPoints(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)

  // ---- generation-numbered points directories ---------------------------
  //
  // Reader-safe compaction (VERDICT r2 missing #1): instead of renaming the
  // live directory (whose swap window left readers with no directory at
  // all), each compaction writes a NEW generation `points-g<k>` and the
  // live generation is resolved by listing: the highest generation whose
  // `_SUCCESS` marker exists. The marker lands atomically at job commit, so
  // the swap is atomic from a reader's perspective — before commit readers
  // resolve the old generation, after it the new one; there is no window
  // with neither. A superseded generation is retained until its
  // SUPERSESSION is older than [[LeaseTimeoutMs]] (age-based retirement,
  // VERDICT r4 missing #1): a reader that resolved generation g started
  // scanning before g+1 committed, so holding g for the lease horizon
  // after that commit protects it through ANY number of back-to-back
  // compactions — the count-based rule ("keep one superseded gen") broke a
  // reader when two compactions committed during one scan. Readers slower
  // than the 120 s horizon are outside the guarantee, exactly like the
  // reference's watchdog, which breaks locks on the same clock
  // (`Core.hs:125-164`). Storage cost: superseded copies linger ≤ 120 s.

  private val GenDirRe = "points-g([0-9]+)".r

  private def genPath(n: Namespace, g: Long): String =
    if (g == 0L) n.pointsDir else s"${n.dir}/points-g$g"

  /** All on-disk generations, ascending: (generation, path). */
  private def generations(spark: SparkSession, n: Namespace): Seq[(Long, Path)] = {
    val f = fs(spark, n.dir)
    val base = new Path(n.dir)
    if (!f.exists(base)) Nil
    else f.listStatus(base).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case "points"     => Some((0L, st.getPath))
        case GenDirRe(g)  => Some((g.toLong, st.getPath))
        case _            => None
      }
    }.sortBy(_._1)
  }

  private def isComplete(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_SUCCESS"))

  /** Superseded generations old enough to retire: complete generations
    * below `live` whose supersession is older than [[LeaseTimeoutMs]] and
    * which are not PINNED ([[pinGeneration]] — the snapshot-read retention
    * override; a pinned generation survives any number of compact/vacuum
    * passes until [[unpinGeneration]]). Any reader still scanning an
    * unpinned retireable generation resolved it before the horizon, i.e.
    * has been running longer than the lease horizon — outside the reader
    * guarantee (the reference draws the same line with its 120 s lock
    * watchdog).
    *
    * The supersession clock is a `_SUPERSEDED_AT` marker written ONCE into
    * the superseded generation when a writer first observes it superseded
    * (writers only — always under the lease). It must NOT be the
    * superseder's `_SUCCESS` mtime: every micro-batch append to the live
    * generation re-commits that marker, so a hot stream would refresh the
    * clock forever and the superseded full copy would never retire
    * (permanent ~2× storage). First-observation time is ≥ the true
    * supersession time, so the marker only ever retains longer — safe for
    * readers. */
  private def retireable(spark: SparkSession, f: FileSystem,
                         gens: Seq[(Long, Path)],
                         live: Long): Seq[(Long, Path)] = {
    val complete = gens.filter(g => isComplete(f, g._2))
    complete.filter(_._1 < live).filter { case (g, p) =>
      complete.exists(_._1 > g) && !isPinned(f, p) && {
        val marker = s"$p/_SUPERSEDED_AT"
        readSmall(spark, marker).map(_.trim.toLong) match {
          case None =>
            writeSmall(spark, marker, System.currentTimeMillis().toString)
            false
          case Some(at) =>
            System.currentTimeMillis() - at > LeaseTimeoutMs
        }
      }
    }
  }

  // ---- generation pins: snapshot reads / time travel (VERDICT r15 #1) ---
  //
  // The reference store is append-only, so any past read is reproducible
  // forever (`FuzzyTests.hs:150-200`: every written point stays findable).
  // The engine's takedown mandate necessarily broke that — compact/vacuum
  // rewrite generations and the lease horizon retires old ones — which
  // made "which corpus version trained run X" unanswerable after one
  // maintenance pass. The generations already exist on disk; a PIN is the
  // retention override that keeps one alive past its supersession, and a
  // generation-pinned read serves exactly its files. Lineage contract: a
  // pinned read is a PURE FUNCTION of the pinned generation's immutable
  // files — it applies NO pending tombstone overlay (the overlay is
  // mutable shared state; folding it in would make the "snapshot" drift
  // as takedowns arrive). To snapshot a post-takedown corpus, vacuum
  // first and pin the resulting generation. Conversely a takedown that
  // must reach ARCHIVED corpus versions requires dropping their pins —
  // the pin IS the explicit record that such versions exist.

  private def isPinned(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_PINNED"))

  /** All on-disk generations with their state, ascending:
    * (generation, complete, pinned). The live generation is the highest
    * complete one. */
  def storeGenerations(spark: SparkSession, n: Namespace)
      : Seq[(Long, Boolean, Boolean)] = {
    val f = fs(spark, n.dir)
    generations(spark, n).map { case (g, p) =>
      (g, isComplete(f, p), isPinned(f, p))
    }
  }

  /** The live generation number (highest complete), or None if never
    * written. */
  def liveGeneration(spark: SparkSession, n: Namespace): Option[Long] =
    storeGenerations(spark, n).filter(_._2).lastOption.map(_._1)

  /** Stamp a generation's `_BORN_AT` marker ONCE (first writer to observe
    * it unstamped; always under the lease). The birth time must be its own
    * write-once marker and NOT the `_SUCCESS` mtime: every micro-batch
    * append to the live generation re-commits `_SUCCESS` and refreshes
    * that mtime (the same trap the `_SUPERSEDED_AT` design comment
    * documents), which would make [[generationAsOf]] resolve a hot
    * generation as "not yet born" and time-travel to its PREDECESSOR —
    * on a takedown-vacuumed store, serving deleted rows. */
  private def stampBornAt(spark: SparkSession, f: FileSystem,
                          genDir: Path): Unit = {
    val p = new Path(genDir, "_BORN_AT")
    if (!f.exists(p))
      writeSmall(spark, p.toString, System.currentTimeMillis().toString)
  }

  /** The generation that was live at wall-clock `millis` — the newest
    * complete generation born (`_BORN_AT`, stamped once at creation) at or
    * before `millis` (SQL `TIMESTAMP AS OF` resolution). Falls back to the
    * `_SUCCESS` mtime for a generation whose marker has not landed yet
    * (pre-marker stores self-heal: the next append stamps it). None when
    * the store's first generation postdates `millis`. Only generations
    * still ON DISK resolve — pin the ones you need historical reads of. */
  def generationAsOf(spark: SparkSession, n: Namespace,
                     millis: Long): Option[Long] = {
    val f = fs(spark, n.dir)
    generations(spark, n)
      .filter { case (_, p) =>
        isComplete(f, p) && {
          val born = readSmall(spark, s"$p/_BORN_AT").map(_.trim.toLong)
            .getOrElse(f.getFileStatus(new Path(p, "_SUCCESS"))
              .getModificationTime)
          born <= millis
        }
      }
      .lastOption.map(_._1)
  }

  /** Pin generation `g` so it survives lease-horizon retirement — the
    * snapshot/lineage retention override. Under the writer lease: pins
    * gate retirement decisions, which only writers make, so pin/retire
    * cannot race. Fails loudly on an unknown or incomplete generation (an
    * incomplete generation is a dead compaction attempt — there is
    * nothing reproducible to pin). Idempotent. */
  def pinGeneration(spark: SparkSession, n: Namespace, g: Long): Unit =
    withWriterLease(spark, n) {
      val f = fs(spark, n.dir)
      val p = generations(spark, n).collectFirst { case (`g`, path) => path }
        .getOrElse(throw new IllegalStateException(
          s"namespace '${n.ns}': generation $g does not exist " +
            "(already retired, or never created)"))
      require(isComplete(f, p),
        s"namespace '${n.ns}': generation $g is incomplete (dead compaction " +
          "attempt) — only complete generations can be pinned")
      writeSmall(spark, s"$p/_PINNED",
        System.currentTimeMillis().toString)
    }

  /** Drop generation `g`'s pin; if superseded it retires on the normal
    * lease-horizon clock FROM THE UNPIN — the `_SUPERSEDED_AT` marker is
    * re-stamped on the pin's actual removal so the clock restarts, giving
    * any reader who resolved the pinned snapshot the full
    * [[LeaseTimeoutMs]] grace before its files vanish (a months-old
    * supersession time would retire it on the very next maintenance pass,
    * under a reader's feet). Idempotent: the stamp fires ONLY on the
    * pinned→unpinned transition — a repeated (or never-pinned) unpin call
    * changes nothing, so a defensive at-least-once cleanup loop cannot
    * refresh the clock forever and recreate the permanent-retention bug
    * the write-once marker discipline exists to prevent. No-op on an
    * unknown generation (its files are already gone). */
  def unpinGeneration(spark: SparkSession, n: Namespace, g: Long): Unit =
    withWriterLease(spark, n) {
      val f = fs(spark, n.dir)
      val gens = generations(spark, n)
      gens.collectFirst { case (`g`, path) => path }.foreach { p =>
        val hadPin = f.delete(new Path(p, "_PINNED"), false)
        // only meaningful once a higher complete generation exists — a
        // still-live generation must NOT carry a marker (it would
        // pre-date its real supersession and cut the readers' grace)
        if (hadPin &&
            gens.exists { case (og, op) => og > g && isComplete(f, op) })
          writeSmall(spark, s"$p/_SUPERSEDED_AT",
            System.currentTimeMillis().toString)
      }
    }

  /** Resolve a pinned/snapshot generation's points path — loud on a
    * generation that is missing (retired) or incomplete. Shared by the
    * Scala snapshot reads and the DSv2 `generation` scan option. */
  private[graft] def snapshotPath(spark: SparkSession, n: Namespace,
                                  g: Long): String = {
    val f = fs(spark, n.dir)
    val p = generations(spark, n).collectFirst { case (`g`, path) => path }
      .getOrElse(throw new IllegalStateException(
        s"namespace '${n.ns}': generation $g does not exist (retired or " +
          "never created) — pin generations you need reproducible reads of " +
          "(TimeStore.pinGeneration)"))
    require(isComplete(f, p),
      s"namespace '${n.ns}': generation $g is incomplete and cannot be read")
    p.toString
  }

  /** The live points directory: highest complete generation; a sole
    * incomplete generation-0 (first append in flight / crashed) still
    * resolves so appends land consistently. None = never written. */
  private[graft] def livePointsPath(spark: SparkSession, n: Namespace): Option[String] = {
    val f = fs(spark, n.dir)
    val gens = generations(spark, n)
    gens.filter(g => isComplete(f, g._2)).lastOption
      .orElse(gens.headOption)
      .map(_._2.toString)
  }

  private def readKind(spark: SparkSession, n: Namespace, kind: String,
                       start: Long, end: Long, addrs: Seq[Long],
                       generation: Option[Long] = None): DataFrame = {
    val idx = mustFetchIndex(spark, n, kind)
    // targetObjs over an empty address list is the empty object set — the
    // reference reads nothing rather than scanning every bucket
    // (StoreHelpers.hs:86-104); mirror that contract explicitly instead of
    // burying it in a false predicate
    if (addrs.isEmpty) return emptyPoints(spark)
    // snapshot reads resolve the PINNED generation's path (loud if retired)
    // and skip the pending-tombstone overlay — see [[pinGeneration]]
    val liveOpt = generation.map(g => snapshotPath(spark, n, g))
      .orElse(livePointsPath(spark, n))
    if (liveOpt.isEmpty) return emptyPoints(spark)
    val entries = idx.rangeEntries(start, end)
    val epochs = entries.map(_._1)
    // targetObjs: image of placeBucket over the address list, per epoch.
    val bucketPred = entries.map {
      case (e, bc) =>
        val bs = addrs.map(a => EpochIndex.placeBucket(bc, a)).distinct
        col("epoch") === lit(e) && col("bucket").isin(bs: _*)
    }.reduce(_ || _)
    val addrPred = col("address").isin(addrs: _*)
    // The unsigned (sign-flip) comparisons don't push to parquet; add an
    // equivalent signed predicate that does. Unsigned [start, end] maps to:
    //   both bounds "positive":   time in [start, end] signed
    //   start pos, end "negative": time >= start OR time < 0
    //   start "negative":          time in [start, end] signed (both < 0)
    val signedRange: org.apache.spark.sql.Column =
      if (start >= 0 && end >= 0) col("time").between(start, end)
      else if (start >= 0) col("time") >= start || col("time") < 0
      else col("time").between(start, end)
    val scan = spark.read.schema(storeSchema).parquet(liveOpt.get)
      .filter(col("kind") === kind && col("epoch").isin(epochs: _*) && bucketPred)
      .filter(addrPred && signedRange &&
        PointFunctions.unsignedGte(col("time"), lit(start)) &&
        PointFunctions.unsignedLte(col("time"), lit(end)))
    val df =
      if (generation.isDefined) scan // snapshot: no mutable-overlay anti-join
      else applyDeletes(spark, n, scan)
    // First-wins dedup with a PINNED winner (`deDuplicate`,
    // Algorithms.hs:273-298): `dropDuplicates` keeps an arbitrary row that
    // can flip under repartitioning when two points share (address, time)
    // with different payloads — the winner here is the smallest (payload,
    // value), deterministic under any partitioning (VERDICT r2 #3).
    val deduped = graft.operators.TimeSeriesOps.firstWinsDedup(
      df, Seq("address", "time"),
      Seq(col("payload").bitwiseXOR(lit(Long.MinValue)), col("value")))
    // Unsigned (time, address) order — Core.hs:252-258 — via sign-bit flip.
    deduped.orderBy(col("time").bitwiseXOR(lit(Long.MinValue)),
      col("address").bitwiseXOR(lit(Long.MinValue)))
  }

  /** Compact a namespace: rewrite each (kind, epoch, bucket) partition's
    * accumulated small append files into one file per partition. The
    * streaming/batch append path writes a file per micro-batch per bucket —
    * at scale the read side degrades on file-count, and the reference never
    * faces this (RADOS appends in place). Old epochs are immutable, so
    * compaction is idempotent and safe under the single-writer discipline.
    *
    * Reader-safe: the compacted copy is written as a NEW generation and
    * becomes live atomically when its `_SUCCESS` marker commits — a
    * concurrent reader resolves either the old or the new generation, never
    * neither (the old rename-based swap had a no-live-directory window).
    * Superseded generations survive for [[LeaseTimeoutMs]] after their
    * supersession, so readers already scanning them are not broken even by
    * several back-to-back compactions.
    */
  def compact(spark: SparkSession, n: Namespace): Unit = withWriterLease(spark, n) {
    doCompact(spark, n)
  }

  private def doCompact(spark: SparkSession, n: Namespace): Unit = {
    val f = fs(spark, n.dir)
    val gens = generations(spark, n)
    gens.filter(g => isComplete(f, g._2)).lastOption.foreach {
      case (curGen, curPath) =>
        val next = new Path(genPath(n, curGen + 1))
        if (f.exists(next)) f.delete(next, true) // dead earlier attempt
        // ZERO-SHUFFLE merge (r11): the store is already physically
        // partitioned by (kind, epoch, bucket) directories, so compaction
        // is a per-directory FILE merge, not a relational rewrite. The old
        // shape (read → repartition(kind,epoch,bucket) → partitionBy write)
        // shuffled the ENTIRE corpus to land rows it already had grouped —
        // at 1.02B points that shuffle cost 287.6 s and spilled ~19 GB; at
        // 2.05B the spill alone outgrew the box (SCALE.md decade table).
        // Instead: one task per partition directory, each streaming its
        // files' rows into one output file (raw byte copy when the
        // directory already holds a single file). Transient space is the
        // two generations only — the irreducible cost of the reader-safe
        // swap — and network traffic is zero.
        val leaves = scala.collection.mutable.SortedSet.empty[String]
        val walk = f.listFiles(curPath, true)
        while (walk.hasNext) {
          val st = walk.next()
          val nm = st.getPath.getName
          if (st.isFile && !nm.startsWith("_") && !nm.startsWith(".")) {
            val rel = st.getPath.getParent.toString
              .stripPrefix(curPath.toString).stripPrefix("/")
            if (rel.nonEmpty) leaves += rel
          }
        }
        val sconf = new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration)
        val (curStr, nextStr) = (curPath.toString, next.toString)
        if (leaves.nonEmpty)
          // one partition-dir per task: the merge is IO-bound and a retried
          // task overwrites its own output file, so tasks are idempotent
          spark.sparkContext.parallelize(leaves.toSeq, leaves.size)
            .foreach { rel =>
              mergePartitionDir(sconf.conf, new Path(s"$curStr/$rel"),
                new Path(s"$nextStr/$rel/compacted-0.parquet"))
            }
        else f.mkdirs(next)
        // the new generation is live from here (its _SUCCESS committed);
        // retire only superseded generations whose supersession is older
        // than the lease horizon — curGen and any recently-superseded
        // predecessor stay for readers that resolved them pre-swap (two
        // fast back-to-back compactions must not strand an in-flight scan)
        stampBornAt(spark, f, next) // before visibility: born ≤ live-from
        f.create(new Path(next, "_SUCCESS"), true).close()
        retireable(spark, f, gens, curGen + 1).foreach(g => f.delete(g._2, true))
    }
  }

  /** Executor-side merge of one partition directory's parquet files into a
    * single file. Fast path (the only one real stores hit — every writer in
    * the protocol emits the same physical schema): BINARY row-group
    * concatenation via `ParquetFileReader.appendTo` — no decode, no
    * re-encode, no writer buffer; pure IO with the footers rewritten
    * (VERDICT r11 next #3: the old Group-API row loop was the exact decode
    * path the r11 read-side fix measured 4-5× slow). Files are appended in
    * name order so the merged row groups preserve per-append time locality
    * (row-group min/max stats keep skipping). Mixed-schema directories fall
    * back to a streaming row re-encode under [[LocalFileSchema]], FAILING
    * LOUDLY if a source file carries a field that schema lacks — a future
    * point-schema extension must extend compaction, never silently lose a
    * column (ADVICE r11) — with the writer's row-group size capped so peak
    * merge-task memory is bounded independently of core count (ADVICE r11).
    * A directory already holding one file is byte-copied unchanged.
    * Overwrite modes make task retries idempotent. */
  private def mergePartitionDir(conf: org.apache.hadoop.conf.Configuration,
                                srcDir: Path, dstFile: Path): Unit = {
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val files = ParquetConcat.dataFiles(conf, srcDir)
    if (files.isEmpty) return
    // fast path: raw row-group concatenation ([[ParquetConcat]], shared
    // with the ANN index compaction); false means a mixed-schema directory
    if (ParquetConcat.mergeSameSchema(conf, files, dstFile)) return
    // loud-loss guard BEFORE any row moves: every source field must exist in
    // the merge schema with the same primitive type
    files.foreach { st =>
      val s = ParquetOpen.withReader(conf, st)(_.getFooter.getFileMetaData.getSchema)
      s.getFields.forEach { fld =>
        require(LocalFileSchema.containsField(fld.getName) &&
            LocalFileSchema.getType(Seq(fld.getName): _*).asPrimitiveType()
              .getPrimitiveTypeName == fld.asPrimitiveType().getPrimitiveTypeName,
          s"compact would drop field '${fld.getName}' of ${st.getPath} " +
            s"(not in the merge schema) — refusing to lose data")
      }
    }
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val writer = ExampleParquetWriter.builder(dstFile)
      .withConf(conf).withType(LocalFileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withRowGroupSize(32L << 20) // bounded writer buffer per merge task
      .build()
    val factory = new SimpleGroupFactory(LocalFileSchema)
    try files.foreach { st =>
      ParquetOpen.foreachGroup(conf, st) { g =>
        val out = factory.newGroup()
        out.append("address", g.getLong("address", 0))
        out.append("time", g.getLong("time", 0))
        out.append("payload", g.getLong("payload", 0))
        if (g.getType.containsField("value") &&
            g.getFieldRepetitionCount("value") > 0)
          out.append("value", g.getBinary("value", 0))
        writer.write(out)
      }
    } finally writer.close()
  }

  /** Crash recovery for [[compact]]: a compaction that died mid-write left
    * a newest generation without `_SUCCESS` — readers never resolve it, and
    * this removes it so the next compaction starts clean. Superseded
    * complete generations retire under the same age rule as [[compact]]
    * (supersession older than [[LeaseTimeoutMs]] — never a generation a
    * lease-horizon-respecting reader could still be scanning). Idempotent;
    * called by writers on open. */
  def recoverStranded(spark: SparkSession, n: Namespace): Unit = {
    val f = fs(spark, n.dir)
    val gens = generations(spark, n)
    gens.filter(g => isComplete(f, g._2)).lastOption.foreach {
      case (live, _) =>
        (gens.filter { case (g, _) => g > live } ++ retireable(spark, f, gens, live))
          .foreach(g => f.delete(g._2, true))
    }
  }

  // ---- takedown: deletes on the PRIMARY store (VERDICT r13 #2) ----------
  //
  // Every derived index family can forget a document (tombstone delete +
  // vacuum); this is the same contract for the point/document store itself
  // — the FIRST thing a takedown/GDPR request needs, since scrubbing a
  // document from every index while the corpus still holds it deletes
  // nothing. (The reference store is append-only; this is the engine's own
  // LLM-pipeline mandate, exactly like the index deletes were.)
  //
  // Representation: (address, tstart, tend) unsigned-range tombstones in
  // small parquet files under `<ns>/deletes/` — one atomically-published
  // file per delete call, ids+range only (24 bytes/row). Every read path
  // (readSimple/readExtended, latestUniques, the local point ops, the DSv2
  // SQL scan) suppresses matching rows immediately; [[vacuumDeletes]]
  // folds them in physically as a new points generation under the SAME
  // reader-safe swap as [[compact]] and clears exactly the applied files.
  // Pending-tombstone cost: one anti-join against a table bounded by the
  // takedown volume since the last vacuum (broadcast under
  // [[DeleteBroadcastBytes]]), never corpus-sized.

  private[graft] def deletesDir(n: Namespace) = s"${n.dir}/deletes"

  /** Broadcast ceiling for the pending-delete anti-join side — the
    * probe-size-gate pattern; past it the planner picks its own strategy
    * and the namespace is overdue for [[vacuumDeletes]]. */
  private[graft] val DeleteBroadcastBytes: Long = 64L << 20

  private val DeleteFileSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      """message spark_schema {
        |  required int64 address;
        |  required int64 tstart;
        |  required int64 tend;
        |}""".stripMargin)

  /** Tombstone-delete every point of `addrs` in the UNSIGNED time range
    * [start, end] (the defaults span all of time — a whole-address
    * takedown). The entries land as ONE staged-then-renamed parquet file
    * under `deletes/` (readers are lock-free, so they must never list an
    * uncommitted footer — the same publish discipline as the local point
    * writes) and suppress matching rows from every read path immediately;
    * [[vacuumDeletes]] folds them in physically. Held under the writer
    * lease: deletes are writer-side mutations in the single-writer
    * protocol. Watermarks never rewind — `latest` is a monotonic
    * high-water mark of what was WRITTEN, not of what survives (deleting
    * the newest point must not re-open its epoch for rollover). */
  def deletePoints(spark: SparkSession, n: Namespace, addrs: Seq[Long],
                   start: Long = 0L, end: Long = -1L): Unit =
    withWriterLease(spark, n) {
      deletePointsHeld(spark, n, addrs, start, end)
    }

  /** [[deletePoints]]' body for callers ALREADY holding the writer lease —
    * [[MutableKV.delete]] must read a key's current sequence and write its
    * tombstone under ONE lease acquisition (a read outside the lease can
    * go stale against a concurrent insert, leaving the key's newest record
    * alive after the takedown "completed"). */
  private[sources] def deletePointsHeld(spark: SparkSession, n: Namespace,
                                        addrs: Seq[Long], start: Long,
                                        end: Long): Unit =
    deleteRangesHeld(spark, n, addrs, Seq((start, end)))

  /** Multi-range form of [[deletePointsHeld]]: ALL (address × range)
    * tombstone rows land in ONE staged-then-renamed file, so a takedown
    * whose signed SQL interval splits at the unsigned wrap (two ranges)
    * publishes all-or-nothing — two independent files would let a crash
    * between renames report the DELETE failed with half of it already
    * suppressing rows (r15 review catch). */
  private[sources] def deleteRangesHeld(spark: SparkSession, n: Namespace,
                                        addrs: Seq[Long],
                                        ranges: Seq[(Long, Long)]): Unit = {
      // "invalid namespace" discipline UNCONDITIONALLY: a takedown issued
      // against an unregistered namespace must fail loudly whatever the
      // argument shape — an empty address list silently no-op'ing here
      // diverged from the non-empty case (ADVICE r14)
      mustFetchIndex(spark, n, "simple")
      if (addrs.nonEmpty && ranges.nonEmpty)
        publishDeleteFile(spark, n,
          for (a <- addrs.distinct; (start, end) <- ranges)
            yield (a, start, end),
          s"del-${java.util.UUID.randomUUID()}.parquet")
    }

  /** Write one atomically-published tombstone file of (address, tstart,
    * tend) rows under `deletes/`. A `base` that already exists is KEPT —
    * the idempotence hook for deterministic (batchId-keyed) names: an
    * at-least-once retry carries identical content (the Structured
    * Streaming replay guarantee), so the earlier publish already says
    * everything this one would. Replacing (delete + rename) instead would
    * open a window with the committed tombstone ABSENT — a concurrent
    * reader could serve taken-down rows mid-replay, and a crash between
    * the delete and the rename would leave the takedown silently
    * unpublished until the stream's next retry. */
  private def publishDeleteFile(spark: SparkSession, n: Namespace,
                                rows: Seq[(Long, Long, Long)],
                                base: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(deletesDir(n))
    val f = fs(spark, dir.toString)
    f.mkdirs(dir)
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val tmp = new Path(dir, s".$base.inprogress")
    // sweep a stale staged copy from a writer that died before its rename:
    // the tmp name is deterministic for batchId-keyed publishes, and the
    // parquet writer creates in no-overwrite mode — without the sweep a
    // replayed batch would throw FileAlreadyExists on every retry forever,
    // wedging the takedown feed (only this writer, under the lease, ever
    // touches the staged name — same sweep discipline as writePointsLocal)
    f.delete(tmp, false)
    val writer = ExampleParquetWriter.builder(tmp)
      .withConf(conf).withType(DeleteFileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new SimpleGroupFactory(DeleteFileSchema)
      rows.foreach { case (a, start, end) =>
        val g = factory.newGroup()
        g.append("address", a)
        g.append("tstart", start)
        g.append("tend", end)
        writer.write(g)
      }
    } finally writer.close()
    val dst = new Path(dir, base)
    if (!f.rename(tmp, dst)) {
      // deterministic-name replay on a store whose rename won't clobber:
      // the earlier publish is this batch verbatim — keep it, drop the
      // staged copy. Anything else is a genuine failure.
      f.delete(tmp, false)
      if (!f.exists(dst))
        throw new java.io.IOException(s"failed to publish delete: $tmp")
    }
  }

  /** STREAMING takedown (VERDICT r15 #3): publish one micro-batch of
    * delete requests `(address, unsigned tstart, unsigned tend)` from a
    * `foreachBatch` sink. Deletes arrive as a STREAM in production
    * (user-deletion feeds); this is the tombstone-protocol arm for that
    * shape, idempotent under foreachBatch's at-least-once contract: the
    * batch lands as ONE staged-then-renamed file whose name is keyed by
    * (sinkId, batchId), so a replayed batch — same batchId, same rows,
    * the Structured Streaming replay guarantee — finds its own earlier
    * publish and KEEPS it instead of stacking duplicate tombstones, and a
    * crash between batches leaves every completed batch fully published. Cost
    * per batch is the request volume (takedown feeds are request-sized,
    * never corpus-sized), corpus-independent, under one lease
    * acquisition; every read path suppresses the rows from the moment
    * the rename lands, and [[vacuumDeletes]] folds them in on the normal
    * maintenance cadence. */
  def deletePointsBatch(spark: SparkSession, n: Namespace,
                        rows: Seq[(Long, Long, Long)],
                        sinkId: String, batchId: Long): Unit = {
    require(sinkId.nonEmpty && sinkId.forall(c =>
        c.isLetterOrDigit || c == '-'),
      s"sinkId must be [A-Za-z0-9-]+ (it names the tombstone file): '$sinkId'")
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    withWriterLease(spark, n) {
      mustFetchIndex(spark, n, "simple") // loud on an unregistered namespace
      if (rows.nonEmpty)
        publishDeleteFile(spark, n, rows,
          s"del-stream-$sinkId-$batchId.parquet")
    }
  }

  private[graft] def deleteFiles(spark: SparkSession, n: Namespace)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    ParquetConcat.dataFiles(spark.sparkContext.hadoopConfiguration,
      new Path(deletesDir(n)))

  /** Driver-side load of the pending delete entries as packed
    * (address, tstart, tend) triples — for the local point ops and the
    * DSv2 scan, whose readers evaluate rows outside a Spark plan. Bounded
    * by the takedown volume since the last vacuum. */
  private[graft] def loadDeleteTriples(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Array[Long] = {
    val out = Array.newBuilder[Long]
    files.foreach { st =>
      ParquetOpen.foreachGroup(conf, st) { g =>
        out += g.getLong("address", 0)
        out += g.getLong("tstart", 0)
        out += g.getLong("tend", 0)
      }
    }
    out.result()
  }

  /** Pending-tombstone row test over packed [[loadDeleteTriples]] entries,
    * hashed by address ONCE at construction — the shared mask for every
    * read path that evaluates rows outside a Spark plan (the local point
    * ops, the DSv2 row reader, the DSv2 columnar batch filter). The
    * per-row test is O(ranges for this address), never a linear pass over
    * the whole tombstone batch: a bulk takedown (10⁵⁺ pending ranges)
    * must not tax every point-get until the vacuum (VERDICT r14 #6 — the
    * row reader gained this hash in r14, the local readers kept the
    * linear walk). */
  private[graft] final class DeleteMask(triples: Array[Long])
      extends Serializable {
    private val ranges: java.util.HashMap[Long, Array[Long]] = {
      val m = new java.util.HashMap[Long, Array[Long]]()
      var i = 0
      while (i < triples.length) {
        val prev = m.get(triples(i))
        val add = Array(triples(i + 1), triples(i + 2))
        m.put(triples(i), if (prev == null) add else prev ++ add)
        i += 3
      }
      m
    }
    def isEmpty: Boolean = ranges.isEmpty
    def deleted(address: Long, time: Long): Boolean = {
      val rs = ranges.get(address)
      if (rs == null) return false
      var i = 0
      while (i < rs.length) {
        if (java.lang.Long.compareUnsigned(time, rs(i)) >= 0 &&
            java.lang.Long.compareUnsigned(time, rs(i + 1)) <= 0) return true
        i += 2
      }
      false
    }
  }

  /** Driver-side [[DeleteMask]] cache for the LOCAL point ops, keyed by
    * the pending delete FILES' signature (path+length+mtime — a new
    * delete is a new UUID file, a vacuum removes files; either changes
    * the signature): without it every point-get re-reads the whole
    * tombstone parquet, O(pending) per call — the hash made the per-ROW
    * test O(1) but the per-READ load still scaled with the takedown
    * backlog (r15; the point-get twin of the r14 row-reader lesson). One
    * entry per namespace, bounded by the pending volume, dropped the
    * moment the signature moves. */
  // Bounded LRU: a long-lived driver touching many short-lived namespaces
  // must not pin one dead multi-MB mask per namespace for the JVM lifetime
  // (r15 review catch), and a driver CYCLING through >cap live namespaces
  // must not drop every hot entry each time the cap trips (ADVICE r15 —
  // the previous clear-all made such a driver re-read every namespace's
  // tombstone parquet once per cycle). Access-ordered LinkedHashMap evicts
  // exactly the least-recently-used entry; correctness never depends on a
  // hit. All access goes through the map's own monitor — mask loads are
  // driver-side and rare, contention is nil.
  private[graft] val MaskCacheCap = 64
  private val maskCache =
    new java.util.LinkedHashMap[String, (String, Array[Long], DeleteMask)](
      MaskCacheCap, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Array[Long], DeleteMask)])
          : Boolean = size() > MaskCacheCap
    }

  /** Cache introspection for the eviction-order spec: the cached keys,
    * least-recently-used first. */
  private[graft] def maskCacheKeys: Seq[String] = maskCache.synchronized {
    import scala.jdk.CollectionConverters._
    maskCache.keySet().asScala.toVector
  }

  private def maskEntry(spark: SparkSession,
                        n: Namespace): (String, Array[Long], DeleteMask) = {
    val files = deleteFiles(spark, n)
    val sig = files.map(st =>
        s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    val cached = maskCache.synchronized(maskCache.get(n.dir))
    if (cached != null && cached._1 == sig) cached
    else {
      val triples = loadDeleteTriples(
        spark.sparkContext.hadoopConfiguration, files)
      val entry = (sig, triples, new DeleteMask(triples))
      maskCache.synchronized(maskCache.put(n.dir, entry))
      entry
    }
  }

  private[graft] def deleteMask(spark: SparkSession, n: Namespace): DeleteMask =
    maskEntry(spark, n)._3

  /** The packed pending triples through the same signature cache — for
    * [[MutableKV]]'s tombstone-horizon scan, which otherwise re-reads the
    * delete parquet on every re-creating insert. */
  private[sources] def deleteTriplesCached(spark: SparkSession,
                                           n: Namespace): Array[Long] =
    maskEntry(spark, n)._2

  /** Anti-join a point scan against the namespace's pending delete
    * tombstones (no-op when none): equi-key on address with the unsigned
    * range as the join residual, delete side broadcast under
    * [[DeleteBroadcastBytes]]. Applied BEFORE dedup — the pinned
    * first-wins winner must be chosen among SURVIVING rows only. */
  private def applyDeletes(spark: SparkSession, n: Namespace,
                           df: DataFrame): DataFrame = {
    val files = deleteFiles(spark, n)
    if (files.isEmpty) df
    else {
      val bytes = files.map(_.getLen).sum
      val tomb = spark.read.parquet(files.map(_.getPath.toString): _*)
        .select(col("address").as("__del_addr"),
          col("tstart").as("__del_start"), col("tend").as("__del_end"))
      val t = if (bytes <= DeleteBroadcastBytes) broadcast(tomb) else tomb
      df.join(t,
        col("address") === col("__del_addr") &&
          PointFunctions.unsignedGte(col("time"), col("__del_start")) &&
          PointFunctions.unsignedLte(col("time"), col("__del_end")),
        "left_anti")
    }
  }

  /** Physically fold the pending delete tombstones into the store: rewrite
    * the live points generation WITHOUT the matching rows as generation
    * N+1 — the same reader-safe `_SUCCESS` swap and lease-horizon
    * retirement as [[compact]] — then remove exactly the delete files that
    * were applied (a delete landing mid-vacuum keeps its file and still
    * serves through the anti-join).
    *
    * Scale shape: unlike compact's binary merge, row removal must decode —
    * but while the pending tombstones fit [[DeleteBroadcastBytes]] (the
    * normal maintenance cadence) it never shuffles: the scan's input
    * splits are already aligned to the (kind, epoch, bucket) leaf
    * directories, the delete side joins as a BROADCAST anti-join, and
    * `partitionBy` lands each task's surviving rows back into its own
    * leaf — one read + one write pass over the store, zero exchange. Past
    * the gate (>64 MB of pending tombstones — a vacuum long overdue) the
    * hint drops and the planner may shuffle the points generation for the
    * join; results are identical, the pass is corpus-scale, and a warning
    * logs the degradation (ADVICE r14 — the old doc claimed
    * unconditional zero-exchange). (Run [[compact]] after if the rewrite
    * fans a leaf into several files.) A vacuum that dies before its `_SUCCESS`
    * never becomes live ([[recoverStranded]] clears it); one that dies
    * after the swap but before clearing the applied files re-applies them
    * harmlessly (the rows are already gone — the anti-join matches
    * nothing) until the next vacuum clears them. */
  def vacuumDeletes(spark: SparkSession, n: Namespace): Unit =
    withWriterLease(spark, n) {
      val applied = deleteFiles(spark, n)
      if (applied.nonEmpty) {
        val f = fs(spark, n.dir)
        val gens = generations(spark, n)
        val liveComplete = gens.filter(g => isComplete(f, g._2)).lastOption
        liveComplete match {
          case None =>
            // never-written (or first-append-in-flight) namespace: nothing
            // to fold, reads are empty/anti-joined either way — keep the
            // tombstones pending until there is a generation to rewrite
            ()
          case Some((curGen, curPath)) =>
            val next = new Path(genPath(n, curGen + 1))
            if (f.exists(next)) f.delete(next, true) // dead earlier attempt
            val bytes = applied.map(_.getLen).sum
            if (bytes > DeleteBroadcastBytes)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"vacuumDeletes(${n.ns}): ${bytes >> 20} MB of pending " +
                s"tombstones exceed the ${DeleteBroadcastBytes >> 20} MB " +
                "broadcast gate — the rewrite may shuffle the points " +
                "generation; vacuum on a tighter cadence to keep the " +
                "zero-exchange plan")
            val tomb = spark.read
              .parquet(applied.map(_.getPath.toString): _*)
              .select(col("address").as("__del_addr"),
                col("tstart").as("__del_start"), col("tend").as("__del_end"))
            val t = if (bytes <= DeleteBroadcastBytes) broadcast(tomb) else tomb
            spark.read.schema(storeSchema).parquet(curPath.toString)
              .join(t,
                col("address") === col("__del_addr") &&
                  PointFunctions.unsignedGte(col("time"), col("__del_start")) &&
                  PointFunctions.unsignedLte(col("time"), col("__del_end")),
                "left_anti")
              .write.mode(SaveMode.Overwrite)
              .partitionBy("kind", "epoch", "bucket")
              .parquet(next.toString)
            // the write's _SUCCESS commit made the vacuumed generation
            // live; superseded generations retire on the lease horizon.
            // Birth marker after the job (the Overwrite job would delete
            // a pre-written one); a crash in between self-heals via the
            // _SUCCESS-mtime fallback, then the next append stamps it.
            stampBornAt(spark, f, next)
            crashPoint("vacuum-after-gen-commit")
            retireable(spark, f, generations(spark, n), curGen + 1)
              .foreach(g => f.delete(g._2, true))
            applied.foreach(st => f.delete(st.getPath, false))
        }
      }
    }

  /** One row of [[storeStats]] — the primary store's maintenance view. */
  final case class KindStats(
      kind: String,
      generation: Long,          // live generation number
      generationsOnDisk: Long,   // incl. superseded-but-retained + pinned
      pinnedGenerations: Long,
      epochs: Long,              // index entries in force
      buckets: Long,             // latest entry's bucket count
      leaves: Long,              // non-empty (epoch, bucket) directories
      files: Long,               // data files across those leaves
      maxFilesPerLeaf: Long,     // fragmentation: compact when >> 1
      bytes: Long,               // data bytes in the live generation
      watermark: Long,           // unsigned high-water time for this kind
      pendingDeleteFiles: Long,  // namespace-level, repeated per kind
      pendingDeleteRanges: Long,
      pendingDeleteBytes: Long,
      deleteOverBroadcastGate: Boolean, // vacuum overdue: rewrite may shuffle
      hasKvShadow: Boolean)

  /** Maintenance stats for a namespace (VERDICT r15 #4) — the primary
    * store's twin of the index families' decision views
    * ([[graft.operators.Similarity.imiIndexStats]]): one row per kind
    * telling a 100 TB operator WHEN to run [[compact]] (maxFilesPerLeaf
    * grows with appends since the last compaction — the read side
    * degrades on file count) and WHEN [[vacuumDeletes]] is due
    * (pendingDelete* grows with the takedown backlog;
    * `deleteOverBroadcastGate` means the backlog passed
    * [[DeleteBroadcastBytes]] and the vacuum rewrite may shuffle the
    * points generation instead of running zero-exchange). Driver-side
    * METADATA only: one recursive listing of the live generation, the
    * index/latest/generation-marker reads, and the signature-cached
    * pending-tombstone triples — no Spark job, no footer decode, cost
    * independent of the corpus row count. */
  def storeStats(spark: SparkSession, n: Namespace): Seq[KindStats] = {
    // loud on an unregistered namespace — and reused for the "simple" row
    // below (each fetch is a settled small-file read; no double round-trip)
    val simpleIdx = mustFetchIndex(spark, n, "simple")
    val f = fs(spark, n.dir)
    val gens = storeGenerations(spark, n)
    val liveGen = gens.filter(_._2).lastOption.map(_._1)
    val (sWm, eWm) = fetchLatest(spark, n)
    // one recursive walk of the live generation: per-leaf file counts/bytes
    val leafFiles = scala.collection.mutable.HashMap
      .empty[(String, Long, Int), (Long, Long)] // leaf -> (files, bytes)
    livePointsPath(spark, n).foreach { live =>
      val LeafRe = "kind=([a-z]+)/epoch=([0-9]+)/bucket=([0-9]+)".r
      val walk = f.listFiles(new Path(live), true)
      while (walk.hasNext) {
        val st = walk.next()
        val nm = st.getPath.getName
        if (st.isFile && !nm.startsWith("_") && !nm.startsWith(".")) {
          st.getPath.getParent.toString.stripPrefix(live)
            .stripPrefix("/") match {
            case LeafRe(k, e, b) =>
              val key = (k, java.lang.Long.parseUnsignedLong(e), b.toInt)
              val (c0, b0) = leafFiles.getOrElse(key, (0L, 0L))
              leafFiles.update(key, (c0 + 1, b0 + st.getLen))
            case _ => ()
          }
        }
      }
    }
    val delFiles = deleteFiles(spark, n)
    val delRanges = deleteTriplesCached(spark, n).length / 3
    val delBytes = delFiles.map(_.getLen).sum
    val kvShadow = isRegistered(spark, n.copy(ns = s"${n.ns}-INTERNAL"))
    Seq("simple", "extended").map { kind =>
      val idx = if (kind == "simple") simpleIdx
                else mustFetchIndex(spark, n, kind)
      val leaves = leafFiles.filter(_._1._1 == kind)
      KindStats(
        kind = kind,
        generation = liveGen.getOrElse(0L),
        generationsOnDisk = gens.size.toLong,
        pinnedGenerations = gens.count(_._3).toLong,
        epochs = idx.entries.size.toLong,
        buckets = idx.latestEntry._2.toLong,
        leaves = leaves.size.toLong,
        files = leaves.valuesIterator.map(_._1).sum,
        maxFilesPerLeaf = leaves.valuesIterator.map(_._1)
          .foldLeft(0L)(math.max),
        bytes = leaves.valuesIterator.map(_._2).sum,
        watermark = if (kind == "simple") sWm else eWm,
        pendingDeleteFiles = delFiles.size.toLong,
        pendingDeleteRanges = delRanges.toLong,
        pendingDeleteBytes = delBytes,
        deleteOverBroadcastGate = delBytes > DeleteBroadcastBytes,
        hasKvShadow = kvShadow)
    }
  }

  /** [[storeStats]] as a DataFrame, for SQL consumers and the gate. */
  def storeStatsDF(spark: SparkSession, n: Namespace): DataFrame = {
    import spark.implicits._
    storeStats(spark, n).toDF()
  }

  /** Latest point per address over a namespace kind (`latestUniques`,
    * `Algorithms.hs:248-262`) — max_by hash aggregate, map-side partials.
    *
    * Time is unsigned Word64 (`Core.hs:232-243`): the aggregate orders by
    * the sign-flipped time (unsigned order on x == signed order on
    * x ^ MinValue), so a point at time >= 2^63 beats any small time. When
    * duplicate (address, time) rows carry different payloads the winner is
    * the smallest unsigned (payload, value) — the SAME pinned winner as
    * [[readKind]]'s first-wins dedup, so `lookup` (via readExtended) and
    * `enumerate` (via this) can never disagree on a key's value. Expressed
    * as one min_by: bitwise-NOT inverts the flipped-time order (~x is
    * strictly decreasing), so min over (~flippedTime, unsignedPayload,
    * value) == max unsigned time, then min unsigned (payload, value). */
  def latestPerAddress(spark: SparkSession, n: Namespace, kind: String): DataFrame = {
    // schema declared explicitly, matching readKind: a namespace whose
    // first append crashed mid-job (only _temporary present) must read as
    // empty here too, not fail schema inference (ADVICE r6 low)
    val base = applyDeletes(spark, n, livePointsPath(spark, n)
      .map(spark.read.schema(storeSchema).parquet(_))
      .getOrElse(emptyPoints(spark)).filter(col("kind") === kind))
    val payload = struct(col("time"), col("payload"), col("value"))
    val ord = struct(
      bitwise_not(col("time").bitwiseXOR(lit(Long.MinValue))),
      col("payload").bitwiseXOR(lit(Long.MinValue)),
      col("value"))
    base.groupBy(col("address"))
      .agg(min_by(payload, ord).as("latest"))
      .select(col("address"), col("latest.time").as("time"),
        col("latest.payload").as("payload"), col("latest.value").as("value"))
  }

  // ---- driver-local point ops (single-object read/append) ----------------
  //
  // The reference's point-granular operations are SINGLE rados object IO:
  // `Mutable.lookup` reads one object (`Mutable.hs:48-73`), `insertWith`
  // appends one (`Mutable.hs:75-103`). Routing a point-get or a one-row
  // append through a distributed Spark job pays full job scheduling
  // (~100-300 ms of driver/DAG/task overhead) to move a handful of bytes —
  // on a cluster that is a round trip through the scheduler per KV call.
  // These local twins keep the EXACT on-disk protocol — same lease, same
  // index routing (`EpochIndex.locate` is the Scala form of [[route]]'s
  // CASE chain), same partition layout, same pinned dedup winner, same
  // watermark/rollover maintenance — but do the IO driver-side with the
  // Parquet file API, so a point op costs one pruned bucket-file read or
  // one small file append, like the reference's one-object IO. Bulk stays
  // on [[writePoints]]/[[readSimple]]; the distributed and local paths are
  // interchangeable per-call on the same namespace (spec-pinned, and the
  // `ts_store_mutable` oracle reads locally-written data through the
  // distributed scan, so layout parity is hash-gated end to end).

  private val LocalFileSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      // matches writePoints' file schema: non-nullable case-class fields
      // write as required, the blob as optional (partition cols live in
      // the directory names)
      """message spark_schema {
        |  required int64 address;
        |  required int64 time;
        |  required int64 payload;
        |  optional binary value;
        |}""".stripMargin)

  private def readParquetPoints(conf: org.apache.hadoop.conf.Configuration,
                                st: org.apache.hadoop.fs.FileStatus,
                                filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate])
      : Seq[Point] = {
    val out = Vector.newBuilder[Point]
    ParquetOpen.foreachGroup(conf, st, filter) { g =>
      val v =
        if (g.getType.containsField("value") &&
            g.getFieldRepetitionCount("value") > 0)
          g.getBinary("value", 0).getBytes
        else null
      out += Point(g.getLong("address", 0), g.getLong("time", 0),
        g.getLong("payload", 0), v)
    }
    out.result()
  }

  private def writeParquetPoints(conf: org.apache.hadoop.conf.Configuration,
                                 file: Path, pts: Seq[Point]): Unit = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.io.api.Binary
    val writer = ExampleParquetWriter.builder(file)
      .withConf(conf).withType(LocalFileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new SimpleGroupFactory(LocalFileSchema)
      pts.foreach { p =>
        val g = factory.newGroup()
        g.append("address", p.address)
        g.append("time", p.time)
        g.append("payload", p.payload)
        if (p.value != null)
          g.append("value", Binary.fromConstantByteArray(p.value))
        writer.write(g)
      }
    } finally writer.close()
  }

  /** Spark BinaryType order: unsigned lexicographic, shorter-prefix-first,
    * nulls first under ascending — the local dedup must pick the same
    * winner as [[readKind]]'s `firstWinsDedup`. */
  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }

  /** The pinned first-wins winner among duplicate (address, time) rows:
    * smallest unsigned (payload, value) — identical to [[readKind]] and
    * [[latestPerAddress]], so a local point-get can never disagree with a
    * distributed scan of the same namespace. */
  private val pinnedWinner: Ordering[Point] = (x: Point, y: Point) => {
    val c = java.lang.Long.compareUnsigned(x.payload, y.payload)
    if (c != 0) c else compareBytes(x.value, y.value)
  }

  /** Driver-local [[readSimple]]: identical contract (pruning, unsigned
    * range, pinned dedup, unsigned (time, address) order) with one-object
    * IO instead of a Spark job. For point-gets and small address sets. */
  def readSimpleLocal(spark: SparkSession, n: Namespace, start: Long,
                      end: Long, addrs: Seq[Long]): Seq[Point] =
    readKindLocal(spark, n, "simple", start, end, addrs)
      .map(p => p.copy(value = null))

  /** Driver-local [[readExtended]] — see [[readSimpleLocal]]. */
  def readExtendedLocal(spark: SparkSession, n: Namespace, start: Long,
                        end: Long, addrs: Seq[Long]): Seq[Point] =
    readKindLocal(spark, n, "extended", start, end, addrs)

  private def readKindLocal(spark: SparkSession, n: Namespace, kind: String,
                            start: Long, end: Long,
                            addrs: Seq[Long]): Seq[Point] = {
    val idx = mustFetchIndex(spark, n, kind)
    if (addrs.isEmpty) return Nil
    val liveOpt = livePointsPath(spark, n)
    if (liveOpt.isEmpty) return Nil
    val live = liveOpt.get
    val f = fs(spark, live)
    val conf = spark.sparkContext.hadoopConfiguration
    val addrSet = addrs.toSet
    // The bucket files this walks grow with corpus/buckets, not with the
    // selection — without a parquet filter a single point-get decodes the
    // WHOLE bucket file (measured 2.6 s against a 4M-row bucket, 8x SLOWER
    // than the distributed scan it exists to undercut). Push the time range
    // and address set down as a parquet FilterPredicate: row-group stats
    // and column-index page skipping prune the file to the touched pages.
    // What is left is a fixed cost per OPEN, one per live file of every
    // touched (epoch, bucket): the compacted file plus the local fragments
    // written since. Through parquet's conf-less entry points an open cost
    // ~12 ms of Hadoop XML parsing, most of a get's time (p50 358 ms over a
    // few dozen files); [[ParquetOpen]] under the session's loaded conf
    // opens each in ~0.5 ms, which is what keeps the reference's
    // one-small-object cost model. Comparisons are signed; the UNSIGNED time range maps to a
    // conjunction when start/end share a sign half and to a disjunction
    // when the range crosses the sign boundary (the >= start matches live
    // entirely in the non-negative half, the <= end matches in the
    // negative half). An unsigned-empty range can slip a too-wide
    // disjunction through -- the exact driver-side filter below still
    // gates every row, as before.
    val tcol = org.apache.parquet.filter2.predicate.FilterApi.longColumn("time")
    val acol = org.apache.parquet.filter2.predicate.FilterApi.longColumn("address")
    import org.apache.parquet.filter2.predicate.FilterApi
    val timePred =
      if ((start < 0) == (end < 0))
        FilterApi.and(FilterApi.gtEq(tcol, java.lang.Long.valueOf(start)),
          FilterApi.ltEq(tcol, java.lang.Long.valueOf(end)))
      else
        FilterApi.or(FilterApi.gtEq(tcol, java.lang.Long.valueOf(start)),
          FilterApi.ltEq(tcol, java.lang.Long.valueOf(end)))
    val addrJSet = new java.util.HashSet[java.lang.Long]()
    addrs.foreach(a => addrJSet.add(java.lang.Long.valueOf(a)))
    val pred = Some(FilterApi.and(timePred, FilterApi.in(acol, addrJSet)))
    // targetObjs (StoreHelpers.hs:78-104): the same pruned (epoch, bucket)
    // image readKind turns into partition predicates, walked directly
    val rows = idx.rangeEntries(start, end).flatMap { case (e, bc) =>
      addrs.map(a => EpochIndex.placeBucket(bc, a)).distinct.flatMap { b =>
        val dir = new Path(s"$live/kind=$kind/epoch=$e/bucket=$b")
        if (!f.exists(dir)) Nil
        else f.listStatus(dir).toSeq
          .filter(st => st.isFile && {
            val nm = st.getPath.getName
            !nm.startsWith("_") && !nm.startsWith(".")
          })
          .flatMap(st => readParquetPoints(conf, st, pred))
      }
    }.filter(p => addrSet.contains(p.address) &&
      java.lang.Long.compareUnsigned(p.time, start) >= 0 &&
      java.lang.Long.compareUnsigned(p.time, end) <= 0)
    // pending takedown tombstones suppress rows here exactly like the
    // distributed scan's anti-join (local/distributed parity is spec- and
    // oracle-pinned); applied BEFORE the pinned-winner dedup. The mask is
    // signature-cached and hashes by address — point-get cost stays flat
    // in the pending-tombstone count (one rebuild per takedown change).
    val mask = deleteMask(spark, n)
    val live2 =
      if (mask.isEmpty) rows
      else rows.filterNot(p => mask.deleted(p.address, p.time))
    live2.groupBy(p => (p.address, p.time)).valuesIterator
      .map(_.min(pinnedWinner)).toVector.sorted(Point.ordering)
  }

  /** Driver-local [[writePoints]] for BOUNDED batches (a KV insert, a
    * single-point append): same lease, same `EpochIndex` routing, same
    * partitioned layout (one small file per touched (kind, epoch, bucket)),
    * same monotonic watermark advance and rollover probe — without a Spark
    * job. The reference's `insertWith` is one object append; this is its
    * cost model. Throws [[LeaseContentionException]] exactly like
    * [[writePoints]] under a contending writer. */
  def writePointsLocal(spark: SparkSession, n: Namespace, points: Seq[Point],
                       rolloverBytes: Long = DefaultRolloverBytes): Unit =
    withWriterLease(spark, n) {
      writePointsLocalHeld(spark, n, points, rolloverBytes)
    }

  /** [[writePointsLocal]]'s body for callers ALREADY holding the writer
    * lease — [[MutableKV.insertWith]] must read a key's current sequence
    * and write the merged record under ONE lease acquisition (a read
    * outside the lease can go stale against a concurrent insert or
    * delete-then-recreate, landing a duplicate (address, seq) whose
    * pinned-dedup winner silently drops one writer's merge — ADVICE
    * r14). The same shape as [[deletePointsHeld]]. */
  private[sources] def writePointsLocalHeld(spark: SparkSession,
                                            n: Namespace, points: Seq[Point],
                                            rolloverBytes: Long): Unit = {
      if (points.nonEmpty) {
        val sIdx = mustFetchIndex(spark, n, "simple")
        val eIdx = mustFetchIndex(spark, n, "extended")
        val target = livePointsPath(spark, n).getOrElse(n.pointsDir)
        val f = fs(spark, target)
        val conf = spark.sparkContext.hadoopConfiguration
        points.groupBy { p =>
          val idx = if (p.isExtended) eIdx else sIdx
          val (epoch, bucket) = EpochIndex.locate(idx, p.time, p.address)
          (if (p.isExtended) "extended" else "simple", epoch, bucket)
        }.foreach { case ((kind, epoch, bucket), pts) =>
          val dir = new Path(s"$target/kind=$kind/epoch=$epoch/bucket=$bucket")
          f.mkdirs(dir)
          // Sweep stale staged files first: we hold the writer lease, so any
          // existing .inprogress here is an orphan from a writer that crashed
          // between staging and rename — invisible to readers (dot-prefixed)
          // but otherwise accumulating forever (ADVICE r9). Compact retires
          // them wholesale with the superseded generation; this covers the
          // no-compact path at one listStatus per touched bucket.
          f.listStatus(dir).foreach { st =>
            if (st.isFile && st.getPath.getName.endsWith(".inprogress"))
              f.delete(st.getPath, false)
          }
          // Stage under a dot-prefixed name (both the distributed scan and
          // readKindLocal skip '.'/'_' names) and rename into place only
          // after the writer closes: reads are lease-free, so a concurrent
          // reader must never list a file whose footer isn't committed.
          // Rename is atomic on HDFS and the local FS — the same publish
          // discipline Spark's commit protocol gives writePoints.
          val base = s"part-${java.util.UUID.randomUUID()}-local.snappy.parquet"
          val tmp = new Path(dir, s".$base.inprogress")
          writeParquetPoints(conf, tmp, pts)
          if (!f.rename(tmp, new Path(dir, base)))
            throw new java.io.IOException(
              s"failed to publish local point write: $tmp")
        }
        val (s0, e0) = fetchLatest(spark, n)
        val (simplePts, extPts) = points.partition(!_.isExtended)
        val sMax = simplePts.foldLeft(s0)((a, p) => maxU(a, p.time))
        val eMax = extPts.foldLeft(e0)((a, p) => maxU(a, p.time))
        writeLatest(spark, n, sMax, eMax)
        if (simplePts.nonEmpty)
          maybeRollover(spark, n, "simple", sIdx, sMax, rolloverBytes, target)
        if (extPts.nonEmpty)
          maybeRollover(spark, n, "extended", eIdx, eMax, rolloverBytes, target)
      }
    }
}
