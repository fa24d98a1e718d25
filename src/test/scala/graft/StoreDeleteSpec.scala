package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.core.Point
import graft.sources.TimeStore

/** Takedown on the PRIMARY store (VERDICT r13 #2): range tombstones
  * suppress rows from EVERY read path immediately (distributed scan,
  * latest aggregate, local point ops, DSv2 SQL), `vacuumDeletes` folds
  * them in physically under the reader-safe generation swap, and a vacuum
  * crash at the seam converges under the next maintainer. */
class StoreDeleteSpec extends SparkSpec {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // addresses 0,2,..,14 simple; times t0+a; payload a. An odd address is
  // extended — mkExt covers that kind.
  private def pts(addrs: Range, t0: Long): Seq[Point] =
    addrs.map(a => Point(a.toLong * 2, t0 + a, a.toLong))

  private def mkStore(tag: String): (String, TimeStore.Namespace) = {
    val root = Files.createTempDirectory(s"graft-del-$tag").toString
    val n = TimeStore.namespace(root, "DEL")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._
    TimeStore.writePoints(spark, n, spark.createDataset(
      pts(0 until 8, 100L) ++ pts(0 until 8, 200L)))
    (root, n)
  }

  private def readAddrs(n: TimeStore.Namespace): Seq[(Long, Long)] =
    TimeStore.readSimple(spark, n, 0L, 100000L, (0 until 8).map(_.toLong * 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("delete suppresses matching rows from scan, latest, local and SQL " +
      "reads immediately; non-matching rows and other addresses survive") {
    val (root, n) = mkStore("paths")
    // delete address 4 over [150, 250] — kills its t0=200 row, keeps 104
    TimeStore.deletePoints(spark, n, Seq(4L), 150L, 250L)

    val rows = readAddrs(n)
    assert(!rows.contains((4L, 202L)), "tombstoned row must not serve")
    assert(rows.contains((4L, 102L)), "outside the range survives")
    assert(rows.contains((6L, 203L)), "other addresses survive")

    // latest: address 4's latest falls back to the surviving 102 row
    val latest = TimeStore.latestPerAddress(spark, n, "simple")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(latest(4L) === 102L)
    assert(latest(6L) === 203L)

    // local point ops agree with the distributed scan (parity contract)
    val local = TimeStore.readSimpleLocal(spark, n, 0L, 100000L, Seq(4L))
      .map(p => (p.address, p.time))
    assert(local === Seq((4L, 102L)))

    // DSv2 SQL scan (drops to the row reader while tombstones pend)
    spark.read.format("graft").option("root", root).option("ns", "DEL")
      .load().createOrReplaceTempView("del_pts")
    val sqlRows = spark.sql(
        "SELECT address, time FROM del_pts WHERE kind = 'simple'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sqlRows.contains((4L, 202L)), "SQL scan must suppress the row")
    assert(sqlRows.contains((4L, 102L)))
    fs.delete(new Path(root), true)
  }

  test("vacuum: identical reads, applied delete files clear, rows " +
      "physically gone, superseded generation survives the swap") {
    val (root, n) = mkStore("vacuum")
    TimeStore.deletePoints(spark, n, Seq(4L, 8L), 150L, 250L)
    // a tombstone file written the way earlier versions wrote them:
    // parquet-mr's example writer under a hand-written schema, which is
    // the physical schema the current writer produces
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val conf = spark.sparkContext.hadoopConfiguration
    val legacySchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { required int64 address; required int64 tstart; " +
        "required int64 tend; }")
    val current = TimeStore.deleteFiles(spark, n)
    assert(current.size === 1)
    assert(graft.sources.ParquetOpen.withReader(conf, current.head)(
      _.getFooter.getFileMetaData.getSchema) === legacySchema)
    val w = ExampleParquetWriter.builder(
        new Path(TimeStore.deletesDir(n), "del-legacy.parquet"))
      .withConf(conf).withType(legacySchema).build()
    try w.write(new SimpleGroupFactory(legacySchema).newGroup()
      .append("address", 10L).append("tstart", 0L).append("tend", 150L))
    finally w.close()
    // both files load as triples, and the mask every reader tests suppresses both
    val triples = TimeStore.loadDeleteTriples(conf, TimeStore.deleteFiles(spark, n))
    assert(triples.grouped(3).map(_.toSeq).toSet ===
      Set(Seq(4L, 150L, 250L), Seq(8L, 150L, 250L), Seq(10L, 0L, 150L)))
    val mask = TimeStore.deleteMask(spark, n)
    assert(mask.deleted(4L, 202L) && mask.deleted(10L, 105L) && !mask.deleted(10L, 205L))
    val tombstoned = readAddrs(n)
    assert(!tombstoned.contains((10L, 105L)) && tombstoned.contains((10L, 205L)))
    TimeStore.vacuumDeletes(spark, n)
    assert(readAddrs(n) === tombstoned, "vacuum must not change served rows")
    assert(TimeStore.deleteFiles(spark, n).isEmpty,
      "applied delete files must clear")
    // physically gone: the live generation is the rewrite
    val live = TimeStore.livePointsPath(spark, n).get
    assert(live.endsWith("points-g1"), s"vacuum must swap generations: $live")
    assert(spark.read.parquet(live)
      .where("address IN (4, 8) AND time BETWEEN 150 AND 250").count() === 0)
    assert(spark.read.parquet(live).where("address = 10 AND time = 105").count() === 0)
    assert(spark.read.parquet(live).where("address = 10 AND time = 205").count() === 1)
    // reader safety: generation 0 survives until the lease horizon
    assert(fs.exists(new Path(s"${n.dir}/points")),
      "superseded points generation must survive the swap")
    // SQL scans regain the vectorized path (no pending tombstones) and
    // still exclude the rows
    spark.read.format("graft").option("root", root).option("ns", "DEL")
      .load().createOrReplaceTempView("vac_pts")
    assert(spark.sql(
      "SELECT * FROM vac_pts WHERE address = 4 AND time = 202").count() === 0)
    // a later write lands in the vacuumed generation and serves
    import spark.implicits._
    TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 4, 300L)))
    assert(readAddrs(n).contains((4L, 302L)),
      "post-vacuum writes must serve — the address is not blacklisted")
    fs.delete(new Path(root), true)
  }

  test("whole-address takedown (default full time range) also scrubs the " +
      "extended kind, through vacuum and the local read") {
    val root = Files.createTempDirectory("graft-del-ext").toString
    val n = TimeStore.namespace(root, "DELX")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._
    val ext = (0 until 8).map(a =>
      Point(a.toLong * 2 + 1, 100L + a, a.toLong, Array[Byte](1, 2, 3)))
    TimeStore.writePoints(spark, n, spark.createDataset(ext))
    TimeStore.deletePoints(spark, n, Seq(5L)) // address 5 = extended
    val rows = TimeStore.readExtended(spark, n, 0L, 100000L,
        (0 until 8).map(_.toLong * 2 + 1))
      .collect().map(_.getLong(0)).toSet
    assert(!rows.contains(5L), "extended rows of the address must not serve")
    assert(rows.contains(7L))
    TimeStore.vacuumDeletes(spark, n)
    assert(TimeStore.readExtendedLocal(spark, n, 0L, 100000L, Seq(5L)).isEmpty)
    fs.delete(new Path(root), true)
  }

  test("a vacuum that crashes after the generation commit re-applies " +
      "harmlessly and the next vacuum clears the tombstones") {
    val (root, n) = mkStore("crash")
    TimeStore.deletePoints(spark, n, Seq(4L), 150L, 250L)
    val tombstoned = readAddrs(n)
    TimeStore.crashSeams.add("vacuum-after-gen-commit")
    val boom = intercept[RuntimeException] {
      TimeStore.vacuumDeletes(spark, n)
    }
    assert(boom.getMessage.contains("injected crash"))
    // the swap committed (new generation live) but the applied delete
    // files survived the crash — reads stay correct either way: the rows
    // are already gone, the anti-join matches nothing
    assert(TimeStore.livePointsPath(spark, n).get.endsWith("points-g1"))
    assert(TimeStore.deleteFiles(spark, n).nonEmpty,
      "the crash left the applied delete files behind")
    assert(readAddrs(n) === tombstoned)
    // the next vacuum converges: re-applies (no-op) and clears
    TimeStore.vacuumDeletes(spark, n)
    assert(TimeStore.deleteFiles(spark, n).isEmpty)
    assert(readAddrs(n) === tombstoned)
    fs.delete(new Path(root), true)
  }

  test("mutable KV delete: key vanishes from lookup/enumerate, survives " +
      "vacuum, and a re-insert re-creates it above the tombstone horizon") {
    import graft.sources.MutableKV
    val root = Files.createTempDirectory("graft-del-kv").toString
    val n = TimeStore.namespace(root, "KV")
    MutableKV.insert(spark, n, 10L, Array[Byte](1))
    MutableKV.insert(spark, n, 10L, Array[Byte](2))
    MutableKV.insert(spark, n, 12L, Array[Byte](9))
    assert(MutableKV.lookup(spark, n, 10L).map(_.toSeq) === Some(Seq(2.toByte)))

    MutableKV.delete(spark, n, 10L)
    assert(MutableKV.lookup(spark, n, 10L).isEmpty,
      "deleted key must stop resolving immediately")
    assert(MutableKV.enumerate(spark, n).collect().map(_.getLong(0)).toSeq
      === Seq(13L), "only the surviving key enumerates (forced-odd addr)")

    // re-create BEFORE vacuum: the first new record must clear the
    // tombstone horizon or the pending range-delete would swallow it
    MutableKV.insert(spark, n, 10L, Array[Byte](7))
    assert(MutableKV.lookup(spark, n, 10L).map(_.toSeq) === Some(Seq(7.toByte)))
    MutableKV.vacuum(spark, n)
    assert(MutableKV.lookup(spark, n, 10L).map(_.toSeq) === Some(Seq(7.toByte)),
      "vacuum must keep the re-created key and fold the old records")
    assert(MutableKV.lookup(spark, n, 12L).map(_.toSeq) === Some(Seq(9.toByte)))
    // second delete+vacuum: fully gone
    MutableKV.delete(spark, n, 10L)
    MutableKV.vacuum(spark, n)
    assert(MutableKV.lookup(spark, n, 10L).isEmpty)
    fs.delete(new Path(root), true)
  }

  test("SQL DELETE FROM: expressible predicates tombstone exactly; " +
      "inexpressible ones reject loudly at analysis") {
    val (root, n) = mkStore("sqldel")
    spark.sql("DROP TABLE IF EXISTS sqldel_t")
    spark.sql(
      s"CREATE TABLE sqldel_t USING graft OPTIONS (root '$root', ns 'DEL')")
    // supported: address IN + time range (both halves of the conjunction)
    spark.sql("DELETE FROM sqldel_t WHERE address IN (4, 8) " +
      "AND time >= 150 AND time <= 250")
    val rows = readAddrs(n)
    assert(!rows.contains((4L, 202L)) && !rows.contains((8L, 204L)),
      "SQL DELETE must tombstone the matching rows")
    assert(rows.contains((4L, 102L)), "outside the range survives")
    // supported: bare address equality (whole-address takedown)
    spark.sql("DELETE FROM sqldel_t WHERE address = 6")
    assert(!readAddrs(n).exists(_._1 == 6L))
    // SQL time bounds are SIGNED (the table's LongType semantics): a
    // negative time is a HUGE unsigned value, so `time >= 300` must kill
    // 400 but keep -5 …
    import spark.implicits._
    TimeStore.writePoints(spark, n, spark.createDataset(Seq(
      Point(2L, -5L, 1L), Point(2L, 400L, 2L))))
    spark.sql("DELETE FROM sqldel_t WHERE address = 2 AND time >= 300")
    def t2() = TimeStore.readSimple(spark, n, 0L, -1L, Seq(2L))
      .collect().map(_.getLong(1)).toSet
    val afterGe = t2()
    assert(!afterGe.contains(400L), "signed >= 300 kills 400")
    assert(afterGe.contains(-5L),
      s"signed >= 300 must NOT match signed -5 (huge unsigned): $afterGe")
    // … and `time <= 0` crosses the unsigned wrap: it splits into
    // unsigned [0,0] ∪ [2^63, 2^64), killing exactly the -5 row — and
    // BOTH intervals publish as ONE tombstone file (all-or-nothing)
    val filesBefore = TimeStore.deleteFiles(spark, n).size
    spark.sql("DELETE FROM sqldel_t WHERE address = 2 AND time <= 0")
    assert(TimeStore.deleteFiles(spark, n).size === filesBefore + 1,
      "a wrap-crossing DELETE must land one atomic tombstone file")
    val afterLe = t2()
    assert(!afterLe.contains(-5L),
      s"signed <= 0 spans the unsigned wrap and kills -5: $afterLe")
    assert(afterLe.contains(101L), "positive times survive")
    // inexpressible shapes fail loudly BEFORE any tombstone lands:
    // no address restriction, a non-address/time column, a disjunction
    val pending = TimeStore.deleteFiles(spark, n).size
    for (bad <- Seq(
        "DELETE FROM sqldel_t WHERE time < 100",
        "DELETE FROM sqldel_t WHERE payload = 3",
        "DELETE FROM sqldel_t WHERE kind = 'simple' AND address = 4",
        "DELETE FROM sqldel_t WHERE address = 4 OR time < 100",
        "DELETE FROM sqldel_t")) {
      val e = intercept[Exception] { spark.sql(bad) }
      assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
        e.isInstanceOf[UnsupportedOperationException],
        s"$bad must reject loudly, got $e")
    }
    assert(TimeStore.deleteFiles(spark, n).size === pending,
      "a rejected DELETE must not land tombstones")
    // empty selection (empty IN-intersection) is a no-op but still serves
    spark.sql("DELETE FROM sqldel_t WHERE address IN (4) AND address IN (8)")
    assert(TimeStore.deleteFiles(spark, n).size === pending)
    spark.sql("DROP TABLE sqldel_t")
    fs.delete(new Path(root), true)
  }

  test("delete on an unregistered namespace fails loudly; empty address " +
      "seq is a no-op; vacuum with no pending deletes is a no-op") {
    val root = Files.createTempDirectory("graft-del-guard").toString
    val bad = TimeStore.namespace(root, "NOPE")
    intercept[IllegalStateException] {
      TimeStore.deletePoints(spark, bad, Seq(1L))
    }
    val (root2, n) = mkStore("noop")
    TimeStore.deletePoints(spark, n, Seq.empty)
    assert(TimeStore.deleteFiles(spark, n).isEmpty)
    val before = readAddrs(n)
    TimeStore.vacuumDeletes(spark, n)
    assert(TimeStore.livePointsPath(spark, n).get.endsWith("points"),
      "a vacuum with nothing pending must not rewrite the store")
    assert(readAddrs(n) === before)
    fs.delete(new Path(root), true)
    fs.delete(new Path(root2), true)
  }

  test("snapshot reads (VERDICT r15 #1): a pinned generation survives " +
      "aged retirement, serves the pre-delete corpus verbatim (API and " +
      "DSv2 option), and retires only after unpin") {
    val (root, n) = mkStore("snap")
    val pre = readAddrs(n)
    val gen0 = TimeStore.liveGeneration(spark, n).get
    assert(gen0 === 0L)
    TimeStore.pinGeneration(spark, n, gen0)
    // pinning an unknown/incomplete generation fails loudly
    intercept[IllegalStateException] {
      TimeStore.pinGeneration(spark, n, 7L)
    }
    // a takedown lands and vacuums: live moves to generation 1
    TimeStore.deletePoints(spark, n, Seq(4L), 0L, 100000L)
    TimeStore.vacuumDeletes(spark, n)
    assert(TimeStore.liveGeneration(spark, n).get === 1L)
    assert(readAddrs(n).forall(_._1 != 4L), "live read reflects takedown")
    // the snapshot read serves generation 0's files verbatim — pre-delete
    def snapAddrs() = TimeStore.readSimple(spark, n, 0L, 100000L,
        (0 until 8).map(_.toLong * 2), generation = Some(gen0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snapAddrs() === pre, "snapshot read must be the pre-delete corpus")
    // …including while a NEW tombstone pends (no mutable overlay applies)
    TimeStore.deletePoints(spark, n, Seq(6L))
    assert(snapAddrs() === pre,
      "a pending tombstone must not leak into a snapshot read")
    // the DSv2 generation option serves the same files
    val sqlSnap = spark.read.format("graft")
      .option("root", root).option("ns", "DEL").option("generation", gen0)
      .load().filter("kind = 'simple'")
      .select("address", "time").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlSnap === pre.toSet, "DSv2 snapshot scan must match the API")
    // age generation 0 past the lease horizon: PINNED -> survives the
    // retirement pass; snapshot reads keep working
    val old = System.currentTimeMillis() - TimeStore.LeaseTimeoutMs - 5000
    val out = fs.create(new Path(s"${n.pointsDir}/_SUPERSEDED_AT"), true)
    try out.write(old.toString.getBytes) finally out.close()
    TimeStore.recoverStranded(spark, n)
    assert(fs.exists(new Path(n.pointsDir)),
      "a pinned generation must survive aged retirement")
    assert(snapAddrs() === pre)
    // unpin -> the retirement clock RESTARTS at the unpin (a reader who
    // resolved the pinned snapshot keeps the full lease-horizon grace; a
    // months-old supersession time must not retire it under their feet),
    // so an immediate pass does NOT retire…
    TimeStore.unpinGeneration(spark, n, gen0)
    TimeStore.recoverStranded(spark, n)
    assert(fs.exists(new Path(n.pointsDir)),
      "unpin must restart the retirement clock, not retire same-instant")
    // …and once the restarted clock ages past the horizon, it retires; the
    // snapshot read now fails LOUDLY (never silently serves another gen)
    val out2 = fs.create(new Path(s"${n.pointsDir}/_SUPERSEDED_AT"), true)
    try out2.write(old.toString.getBytes) finally out2.close()
    TimeStore.recoverStranded(spark, n)
    assert(!fs.exists(new Path(n.pointsDir)),
      "an unpinned aged generation retires on the normal clock")
    intercept[IllegalStateException] { snapAddrs() }
    // the DSv2 option validates when the scan PLANS (newScanBuilder) —
    // a retired generation fails the query, never silently serves another
    intercept[IllegalStateException] {
      spark.read.format("graft").option("root", root).option("ns", "DEL")
        .option("generation", gen0).load().select("address").collect()
    }
    // generation listing reflects the end state: live gen 1 only
    assert(TimeStore.storeGenerations(spark, n) === Seq((1L, true, false)))
    fs.delete(new Path(root), true)
  }

  test("streaming takedown batches (VERDICT r15 #3): batchId-keyed publish " +
      "is idempotent under at-least-once replay; batches accumulate; " +
      "unregistered namespace and bad ids fail loudly") {
    val (root, n) = mkStore("stream")
    // batch 0: address 4 whole-range
    TimeStore.deletePointsBatch(spark, n, Seq((4L, 0L, -1L)), "sink", 0L)
    assert(TimeStore.deleteFiles(spark, n).size === 1)
    assert(readAddrs(n).forall(_._1 != 4L))
    // at-least-once REPLAY of batch 0 (same rows, same id): the publish
    // lands on its own earlier file (clobbered on a POSIX rename, KEPT on
    // a non-clobbering FS — identical content either way, and the
    // committed tombstone is never absent mid-replay) — still one file
    TimeStore.deletePointsBatch(spark, n, Seq((4L, 0L, -1L)), "sink", 0L)
    assert(TimeStore.deleteFiles(spark, n).size === 1,
      "a replayed batch must land on its own file, not stack a duplicate")
    val after = readAddrs(n)
    assert(after.forall(_._1 != 4L))
    // batch 1 is a NEW file; both suppress together
    TimeStore.deletePointsBatch(spark, n, Seq((6L, 0L, 150L)), "sink", 1L)
    assert(TimeStore.deleteFiles(spark, n).size === 2)
    assert(readAddrs(n).forall(p => p._1 != 4L && (p._1 != 6L || p._2 > 150L)))
    // an empty batch publishes nothing but still validates the namespace
    TimeStore.deletePointsBatch(spark, n, Nil, "sink", 2L)
    assert(TimeStore.deleteFiles(spark, n).size === 2)
    intercept[IllegalStateException] {
      TimeStore.deletePointsBatch(spark,
        TimeStore.namespace(root, "NOPE"), Seq((1L, 0L, -1L)), "sink", 0L)
    }
    intercept[IllegalArgumentException] {
      TimeStore.deletePointsBatch(spark, n, Nil, "bad/sink", 0L)
    }
    // vacuum folds the streamed tombstones exactly like bulk ones
    TimeStore.vacuumDeletes(spark, n)
    assert(TimeStore.deleteFiles(spark, n).isEmpty)
    assert(readAddrs(n) === after.filter(p => p._1 != 6L || p._2 > 150L))
    fs.delete(new Path(root), true)
  }

  test("delete-mask cache is LRU (ADVICE r15): eviction drops the " +
      "least-recently-used entry, not the whole cache") {
    val root = Files.createTempDirectory("graft-del-lru").toString
    def ns(i: Int) = TimeStore.Namespace(root, s"LRU$i")
    // fill the cache past its cap; entries 0.. insert in order
    (0 to TimeStore.MaskCacheCap).foreach(i => TimeStore.deleteMask(spark, ns(i)))
    val keys1 = TimeStore.maskCacheKeys.filter(_.contains("LRU"))
    assert(keys1.size === TimeStore.MaskCacheCap)
    assert(!keys1.contains(ns(0).dir), "eldest entry evicted at the cap")
    assert(keys1.contains(ns(1).dir), "only ONE entry evicted, not all")
    // touch the current LRU (entry 1), then overflow again: entry 2 (the
    // new LRU) evicts, the touched entry survives
    TimeStore.deleteMask(spark, ns(1))
    TimeStore.deleteMask(spark, ns(TimeStore.MaskCacheCap + 1))
    val keys2 = TimeStore.maskCacheKeys.filter(_.contains("LRU"))
    assert(keys2.contains(ns(1).dir), "recently-used entry survives eviction")
    assert(!keys2.contains(ns(2).dir), "LRU entry is the one evicted")
    fs.delete(new Path(root), true)
  }

  test("the store's own jobs carry their phase names: write, compact, vacuum") {
    val root = Files.createTempDirectory("graft-del-jobs").toString
    val n = TimeStore.namespace(root, "DEL")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._
    val phases = Seq[(String, () => Unit)](
      ("store.write", () => TimeStore.writePoints(spark, n,
        spark.createDataset(pts(0 until 8, 100L)))),
      ("store.write", () => TimeStore.writePoints(spark, n,
        spark.createDataset(pts(0 until 8, 200L)))),
      ("store.compact", () => TimeStore.compact(spark, n)),
      ("store.vacuum", () => {
        TimeStore.deletePoints(spark, n, Seq(4L), 150L, 250L)
        TimeStore.vacuumDeletes(spark, n)
      }))
    phases.foreach { case (phase, op) =>
      val jobs = jobsOf(op())
      assert(jobs.nonEmpty && jobs.forall(_._1 == phase),
        s"$phase:\n${jobs.mkString("\n")}")
    }
    assert(readAddrs(n).size === 15)
    fs.delete(new Path(root), true)
  }
}
