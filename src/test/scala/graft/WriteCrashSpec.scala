package graft

import java.nio.file.Files

import graft.core.Point
import graft.sources.TimeStore

/** Crash injection for the BATCH write path (VERDICT r8 #5) — the missing
  * third of the protocol's fault coverage: StoreProtocolSpec covers lease
  * races and StreamingSpec covers sink/checkpoint crashes; these tests kill
  * `writePoints` between its non-atomic protocol steps via the
  * [[TimeStore.crashSeams]] fail-points and assert the store the crash
  * leaves behind is readable and the NEXT writer converges it.
  *
  * The write protocol's commit points, in order: (1) the parquet job
  * commit (atomic via _SUCCESS/rename — a crash before it leaves only
  * `_temporary`, which every reader skips), (2) the `latest` watermark
  * publish (atomic rename), (3) the rollover index append (atomic rename).
  * A crash between them leaves: after (1) committed data with a stale
  * watermark; after (2) an advanced watermark with an un-rolled index.
  * Neither state gates READS — visibility is by scan, not watermark — and
  * both converge under the next writer: the watermark re-advances
  * monotonically (maxU against the published value) and `maybeRollover`
  * re-probes sizes on every batch. */
class WriteCrashSpec extends SparkSpec {

  private def pts(addrs: Range, t0: Long): Seq[Point] =
    addrs.map(a => Point(a.toLong * 2, t0 + a, a.toLong))

  test("crash between parquet commit and writeLatest: readable store, watermark re-advances") {
    val root = Files.createTempDirectory("graft-crash-a").toString
    val n = TimeStore.namespace(root, "CRASHA")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._

    TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 8, 100L)))
    val (latest1, _) = TimeStore.fetchLatest(spark, n)
    assert(latest1 === 107L)

    // writer 2 dies after the parquet commit, before publishing `latest`
    TimeStore.crashSeams.add("after-parquet-commit")
    val boom = intercept[RuntimeException] {
      TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 8, 5000L)))
    }
    assert(boom.getMessage.contains("injected crash"))
    assert(TimeStore.crashSeams.isEmpty, "seam did not fire")

    // the crashed batch COMMITTED (job-level atomicity) but the watermark is
    // stale — and the store is still fully readable, with the crashed
    // batch's rows visible (visibility is by scan, not watermark)
    assert(TimeStore.fetchLatest(spark, n)._1 === latest1)
    val addrs = (0 until 8).map(_.toLong * 2)
    val rows = TimeStore.readSimple(spark, n, 0L, 100000L, addrs).collect()
    assert(rows.length === 16, s"expected both batches, got ${rows.length}")

    // next writer (lower times than the crashed batch): succeeds, and the
    // watermark re-advances MONOTONICALLY — never below the published value
    TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 8, 500L)))
    val (s2, _) = TimeStore.fetchLatest(spark, n)
    assert(s2 >= latest1 && s2 >= 507L)

    // a later batch above the crashed batch's times restores dominance of
    // the watermark over EVERYTHING on disk
    TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 8, 9000L)))
    val (s3, _) = TimeStore.fetchLatest(spark, n)
    assert(s3 === 9007L)
    val all = TimeStore.readSimple(spark, n, 0L, 100000L, addrs).collect()
    assert(all.length === 32)

    // latest-value serving agrees with the full scan image
    val latest = TimeStore.latestPerAddress(spark, n, "simple")
      .orderBy("address").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(latest.toSeq === (0 until 8).map(a => (a.toLong * 2, 9000L + a)))
  }

  test("crash between writeLatest and rollover: next batch completes the rollover") {
    val root = Files.createTempDirectory("graft-crash-b").toString
    val n = TimeStore.namespace(root, "CRASHB")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._

    // writer dies after publishing `latest`, before the rollover append —
    // the 1-byte threshold guarantees the probe WOULD have rolled
    TimeStore.crashSeams.add("after-write-latest")
    intercept[RuntimeException] {
      TimeStore.writePoints(spark, n,
        spark.createDataset(pts(0 until 32, 100L)), rolloverBytes = 1L)
    }
    assert(TimeStore.crashSeams.isEmpty, "seam did not fire")
    // watermark committed; index did NOT roll
    assert(TimeStore.fetchLatest(spark, n)._1 === 131L)
    assert(TimeStore.fetchIndex(spark, n, "simple").get.entries.length === 1)

    // the next batch's rollover probe converges the index
    TimeStore.writePoints(spark, n,
      spark.createDataset(pts(0 until 4, 200L)), rolloverBytes = 1L)
    val idx = TimeStore.fetchIndex(spark, n, "simple").get
    assert(idx.entries.length === 2, s"rollover not completed: $idx")
    // the new epoch opens at the re-advanced watermark
    assert(idx.entries(1)._1 === 203L)

    // everything written before and after the crash reads back
    val addrs = (0 until 32).map(_.toLong * 2)
    val rows = TimeStore.readSimple(spark, n, 0L, 100000L, addrs).collect()
    assert(rows.length === 36)
  }

  /** The staged files under `dir`, recursively. */
  private def staged(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Nil
    else {
      val it = f.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
        .filter(_.endsWith(".inprogress")).toSeq
    }
  }

  test("a local put that dies between staging and rename publishes nothing; " +
      "the next put sweeps its staged file") {
    val root = Files.createTempDirectory("graft-crash-put").toString
    val n = TimeStore.namespace(root, "CRASHP")
    TimeStore.register(spark, n, 4, 4)
    TimeStore.writePointsLocal(spark, n, pts(0 until 4, 100L))
    val addrs = (0 until 4).map(_.toLong * 2)
    def local() = TimeStore.readSimpleLocal(spark, n, 0L, -1L, addrs)
    def scan() = TimeStore.readSimple(spark, n, 0L, -1L, addrs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (before, scanBefore) = (local(), scan())
    val latest = TimeStore.fetchLatest(spark, n)
    // one point, so one leaf: the seam fires on its only file
    TimeStore.crashSeams.add("publish-before-rename")
    val boom = intercept[RuntimeException](
      TimeStore.writePointsLocal(spark, n, Seq(Point(2L, 500L, 9L))))
    assert(boom.getMessage.contains("injected crash"))
    assert(TimeStore.crashSeams.isEmpty, "seam did not fire")
    assert(staged(n.pointsDir).size === 1, "the crash leaves one staged file")
    // readers see the pre-write state; the watermark did not advance
    assert(local() === before && scan() === scanBefore)
    assert(TimeStore.fetchLatest(spark, n) === latest)
    // the next put into the same leaf sweeps the orphan and serves
    TimeStore.writePointsLocal(spark, n, Seq(Point(2L, 500L, 9L)))
    assert(staged(n.pointsDir).isEmpty, "the next put sweeps the orphan")
    assert(local().count(_.time == 500L) === 1)
    assert(scan().count(_ == ((2L, 500L))) === 1)
    assert(TimeStore.fetchLatest(spark, n)._1 === 500L)
  }

  test("a takedown that dies between staging and rename suppresses nothing; " +
      "the next takedown sweeps its staged file") {
    val root = Files.createTempDirectory("graft-crash-del").toString
    val n = TimeStore.namespace(root, "CRASHD")
    TimeStore.register(spark, n, 4, 4)
    import spark.implicits._
    TimeStore.writePoints(spark, n, spark.createDataset(pts(0 until 8, 100L)))
    val addrs = (0 until 8).map(_.toLong * 2)
    def local() = TimeStore.readSimpleLocal(spark, n, 0L, -1L, addrs)
      .map(p => (p.address, p.time))
    def scan() = TimeStore.readSimple(spark, n, 0L, -1L, addrs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val before = scan()
    assert(before.size === 8 && local() === before)
    TimeStore.crashSeams.add("publish-before-rename")
    val boom = intercept[RuntimeException](TimeStore.deletePoints(spark, n, Seq(4L)))
    assert(boom.getMessage.contains("injected crash"))
    assert(TimeStore.crashSeams.isEmpty, "seam did not fire")
    assert(staged(TimeStore.deletesDir(n)).size === 1,
      "the crash leaves one staged file")
    // no tombstone is pending, and every reader still serves address 4
    assert(TimeStore.deleteFiles(spark, n).isEmpty)
    assert(scan() === before && local() === before)
    // the next takedown sweeps the orphan and suppresses
    TimeStore.deletePoints(spark, n, Seq(4L))
    assert(staged(TimeStore.deletesDir(n)).isEmpty,
      "the next takedown sweeps the orphan")
    assert(TimeStore.deleteFiles(spark, n).size === 1)
    val after = before.filter(_._1 != 4L)
    assert(scan() === after && local() === after)
  }
}
