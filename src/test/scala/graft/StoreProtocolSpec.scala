package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Point
import graft.sources.{GraftScan, TimeStore}

/** Write-protocol specs: the writer fence (the enforced form of the
  * single-writer declaration — the reference's lock contract,
  * `Core.hs:125-164`, `StoreTests.hs:128-157`), the single-scan ingest
  * (observe-based watermark), compaction crash recovery, and the register
  * CLI. */
class StoreProtocolSpec extends SparkSpec {

  def freshNs(): TimeStore.Namespace =
    TimeStore.namespace(Files.createTempDirectory("graft-proto").toString, "PROTO")

  def pts(ps: (Long, Long, Long)*): org.apache.spark.sql.Dataset[Point] = {
    import spark.implicits._
    spark.createDataset(ps.map { case (a, t, p) => Point(a, t, p) })
  }

  test("a second concurrent writer fails loudly (lease held)") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    TimeStore.withWriterLease(spark, n) {
      // the DEDICATED contention subtype, not a bare ISE: retry policies
      // (MutableKV's bounded insert retry) match on it, so a fatal state
      // masquerading as contention would be retried 50 times (ADVICE r6)
      val ex = intercept[TimeStore.LeaseContentionException] {
        TimeStore.writePoints(spark, n, pts((2L, 10L, 1L)))
      }
      assert(ex.getMessage.contains("active writer"))
    }
    // lease released -> the same write now succeeds
    TimeStore.writePoints(spark, n, pts((2L, 10L, 1L)))
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L)).count() === 1)
  }

  test("metadata reads ride out a non-clobbering publish window") {
    // On stores whose rename won't clobber (HDFS contract), writeSmall's
    // delete+rename fallback makes EVERY index/latest publish pass through
    // a brief missing-file state. A lock-free reader racing that window
    // must resolve the index once the publish lands (one settled re-probe)
    // instead of throwing 'invalid namespace' (ADVICE r6 medium). The test
    // simulates the window directly: delete the index, restore it ~10 ms
    // later from another thread, and fetch concurrently.
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    val idx = new java.io.File(s"${n.metaDir}/simpleIndex")
    val bytes = java.nio.file.Files.readAllBytes(idx.toPath)
    assert(idx.delete())
    val restorer = new Thread(() => {
      Thread.sleep(10)
      java.nio.file.Files.write(idx.toPath, bytes)
    })
    restorer.start()
    val got = TimeStore.fetchIndex(spark, n, "simple")
    restorer.join()
    assert(got.isDefined, "settled re-probe should ride out the publish window")
    assert(got.get.entries === Vector((0L, 4)))
  }

  test("a stale lease (older than the 120s watchdog) is broken, not fatal") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    val conf = spark.sparkContext.hadoopConfiguration
    val lease = new Path(s"${n.metaDir}/write.lease")
    val f = lease.getFileSystem(conf)
    f.create(lease, false).close()
    val old = System.currentTimeMillis() - TimeStore.LeaseTimeoutMs - 5000
    f.setTimes(lease, old, old)
    TimeStore.writePoints(spark, n, pts((2L, 10L, 1L)))  // breaks + proceeds
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L)).count() === 1)
    assert(!f.exists(lease), "lease released after the write")
  }

  test("ingest runs ONE action per batch (watermark via observe, not a 2nd scan)") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    @volatile var actions = 0
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions += 1
      def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      TimeStore.writePoints(spark, n, pts((2L, 10L, 1L), (3L, 20L, 2L), (4L, 7L, 3L)))
      // listener delivery is async; wait for it to drain
      val deadline = System.currentTimeMillis() + 10000
      while (actions < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)  // allow any unexpected second action to surface
      assert(actions === 1, s"expected exactly one Spark action per ingest batch, saw $actions")
    } finally spark.listenerManager.unregister(listener)
    // and the watermarks still advanced (observe metrics applied): addrs
    // 2/4 are simple (max t=10), addr 3 is extended (t=20)
    assert(TimeStore.fetchLatest(spark, n) === ((10L, 20L)))
  }

  test("recoverStranded removes a dead compaction's incomplete generation") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    TimeStore.writePoints(spark, n, pts((2L, 10L, 1L), (4L, 20L, 2L)))
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new Path(n.dir).getFileSystem(conf)
    // simulate a compaction that died mid-write: a new generation exists
    // but its _SUCCESS never committed
    val dead = new Path(s"${n.dir}/points-g1")
    f.mkdirs(new Path(dead, "kind=simple"))
    // readers never resolve the incomplete generation...
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).count() === 2)
    // ...and recovery clears it
    TimeStore.recoverStranded(spark, n)
    assert(!f.exists(dead))
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).count() === 2)
  }

  test("readers are never broken by concurrent compactions (reader-safe swap)") {
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    (1 to 4).foreach(i =>
      TimeStore.writePoints(spark, n, pts((2L, i.toLong, i.toLong), (4L, i.toLong + 10, i.toLong))))
    val expected = TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val readers = (0 until 2).map { _ =>
      new Thread(() => {
        try while (!stop) {
          val got = TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          if (got != expected) errors.add(s"content flipped: $got")
        } catch { case t: Throwable => errors.add(s"reader broke: $t") }
      })
    }
    readers.foreach(_.start())
    try {
      // two cycles: points -> g1 (old swap window) and g1 -> g2 (also
      // exercises retiring generation 0 under live readers)
      TimeStore.compact(spark, n)
      TimeStore.compact(spark, n)
    } finally {
      stop = true
      readers.foreach(_.join(60000))
    }
    assert(errors.isEmpty, s"readers saw errors during compaction: $errors")
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === expected)
  }

  test("lease hammer: 100 writers + 100 readers over a store counter (StoreTests.hs:128-157)") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    // the reference contract-tests 100 exclusive writers (one increment
    // each) + 100 shared readers over a counter; this ports that contract
    // at full scale. The readers are lock-free BY DESIGN here (generation
    // snapshots replace the reference's shared lock), so their half of the
    // contract is observational: every read is whole, monotonic, and never
    // overshoots.
    val writers = 100
    val readerCount = 100
    val perWriter = 1
    val total = writers.toLong * perWriter
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val completed = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the reference proves exclusion through the STORE (a counter every
    // writer read-modify-writes), not through process-local atomics — do
    // both: lost updates on the file counter reveal interleaving even if
    // the atomics happen to look clean. Publication is write-temp +
    // atomic rename so the SHARED READERS always see a whole value and
    // can assert monotonicity (the shared-lock half of the contract).
    val counter = java.nio.file.Paths.get(n.metaDir, "counter")
    java.nio.file.Files.createDirectories(counter.getParent)
    java.nio.file.Files.write(counter, "0".getBytes)
    def readCounter(): Long = {
      var attempts = 0
      while (true) {
        try return new String(java.nio.file.Files.readAllBytes(counter)).trim.toLong
        catch {
          case _: java.io.IOException if attempts < 1000 =>
            attempts += 1; Thread.sleep(1)
        }
      }
      0L // unreachable
    }
    def writeCounter(v: Long): Unit = {
      val tmp = counter.resolveSibling(
        s"counter.tmp-${Thread.currentThread().getId}")
      java.nio.file.Files.write(tmp, v.toString.getBytes)
      java.nio.file.Files.move(tmp, counter,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    @volatile var writersDone = false
    val writerPool = (0 until writers).map { _ =>
      new Thread(() => {
        try {
          var done = 0
          while (done < perWriter) {
            try {
              TimeStore.withWriterLease(spark, n) {
                val now = inside.incrementAndGet()
                maxInside.accumulateAndGet(now, math.max(_, _))
                writeCounter(readCounter() + 1) // unprotected RMW but for the lease
                Thread.sleep(1)
                inside.decrementAndGet()
                completed.incrementAndGet()
              }
              done += 1
            } catch {
              case _: IllegalStateException => Thread.sleep(2) // busy; retry
            }
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val readerPool = (0 until readerCount).map { i =>
      new Thread(() => {
        try {
          var last = 0L
          while (!writersDone) {
            val v = readCounter()
            if (v < last)
              violations.add(s"reader $i saw counter go backwards: $last -> $v")
            if (v > total)
              violations.add(s"reader $i saw counter overshoot: $v > $total")
            last = v
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    readerPool.foreach(_.start())
    writerPool.foreach(_.start())
    writerPool.foreach(_.join(300000))
    writersDone = true
    readerPool.foreach(_.join(30000))
    assert(errors.isEmpty, s"hammer threads failed: $errors")
    assert(violations.isEmpty, s"shared readers saw bad states: $violations")
    assert(completed.get() === writers * perWriter)
    assert(maxInside.get() === 1, "two writers held the lease simultaneously")
    assert(readCounter() === total,
      "lost update on the lease-protected counter — writers interleaved")
  }

  test("a reader survives TWO back-to-back compactions; aged generations retire") {
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    (1 to 3).foreach(i =>
      TimeStore.writePoints(spark, n, pts((2L, i.toLong, i.toLong))))
    val expected = Set((2L, 1L, 1L), (2L, 2L, 2L), (2L, 3L, 3L))
    // an in-flight reader: this plan resolved generation 0's file listing…
    val inflight = TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L))
    // (the scan plans its files lazily: bind them now, as a running scan has)
    val plan = inflight.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val planned = plan.collect { case b: BatchScanExec => b.scan }
      .collect { case g: GraftScan => g.plannedFiles }.flatten
    assert(planned.nonEmpty && planned.forall(_.path.contains(s"${n.pointsDir}/")),
      s"the in-flight scan must be bound to generation 0: $planned")
    // …then TWO compactions commit during its scan. The count-based rule
    // (retire everything below live−1) deleted generation 0 at the second
    // commit and broke the scan; age-based retirement keeps it for the
    // lease horizon after supersession.
    TimeStore.compact(spark, n) // points -> g1
    TimeStore.compact(spark, n) // g1 -> g2
    val got = inflight.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, "in-flight reader broken by double compaction")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new Path(n.dir).getFileSystem(conf)
    assert(f.exists(new Path(n.pointsDir)),
      "recently superseded generation must be retained")
    // age both supersessions past the lease horizon -> g0 and g1 retire.
    // The clock is the one-shot _SUPERSEDED_AT marker, NOT the superseder's
    // _SUCCESS mtime: streaming appends re-commit _SUCCESS every batch,
    // which would refresh an mtime clock forever and never retire anything.
    val old = System.currentTimeMillis() - TimeStore.LeaseTimeoutMs - 5000
    for (g <- Seq("points", "points-g1")) {
      // through the Hadoop FS: earlier marker writes left a .crc sidecar a
      // raw java.nio overwrite would invalidate
      val out = f.create(new Path(s"${n.dir}/$g/_SUPERSEDED_AT"), true)
      try out.write(old.toString.getBytes) finally out.close()
    }
    TimeStore.recoverStranded(spark, n)
    assert(!f.exists(new Path(n.pointsDir)), "aged generation 0 retired")
    assert(!f.exists(new Path(s"${n.dir}/points-g1")), "aged generation 1 retired")
    assert(f.exists(new Path(s"${n.dir}/points-g2")), "live generation kept")
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === expected)
  }

  test("a torn retirement marker is re-stamped; an aged generation retires, " +
      "a fresh one stays") {
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    TimeStore.writePoints(spark, n, pts((2L, 1L, 1L), (4L, 2L, 2L)))
    val expected = TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).collect().toSet
    val f = new Path(n.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (g0, g1) = (new Path(n.pointsDir), new Path(s"${n.dir}/points-g1"))
    def marker(g: Path) = new Path(g, "_SUPERSEDED_AT")
    def stampedAt(g: Path): Long = {
      val in = f.open(marker(g))
      try new String(in.readAllBytes()).trim.toLong finally in.close()
    }
    TimeStore.compact(spark, n) // points -> g1: generation 0's clock starts
    assert(f.exists(marker(g0)))
    // a writer that died between the marker's create and close
    f.create(marker(g0), true).close()
    val before = System.currentTimeMillis()
    TimeStore.compact(spark, n) // g1 -> g2: the pass succeeds and re-stamps
    assert(stampedAt(g0) >= before, "the torn marker restarts the clock")
    // fresh markers: both superseded generations stay
    TimeStore.recoverStranded(spark, n)
    assert(f.exists(g0) && f.exists(g1))
    // an aged marker: that generation retires, the fresh one stays
    val old = System.currentTimeMillis() - TimeStore.LeaseTimeoutMs - 5000
    val out = f.create(marker(g0), true)
    try out.write(old.toString.getBytes) finally out.close()
    TimeStore.recoverStranded(spark, n)
    assert(!f.exists(g0), "aged generation 0 retired")
    assert(f.exists(g1), "freshly superseded generation 1 kept")
    assert(TimeStore.liveGeneration(spark, n) === Some(2L))
    assert(TimeStore.readSimple(spark, n, 0L, 100L, Seq(2L, 4L)).collect().toSet === expected)
  }

  test("register CLI is idempotent and spark-submit shaped (Store.hs:87-105)") {
    val root = Files.createTempDirectory("graft-cli").toString
    val first = RegisterNamespace.run(spark, root, "CLI", 8, 16)
    assert(first.contains("registered 'CLI'"))
    val n = TimeStore.namespace(root, "CLI")
    assert(TimeStore.fetchIndex(spark, n, "simple").get.entries === Vector((0L, 8)))
    assert(TimeStore.fetchIndex(spark, n, "extended").get.entries === Vector((0L, 16)))
    val again = RegisterNamespace.run(spark, root, "CLI", 2, 2)
    assert(again.contains("already registered"))
    assert(TimeStore.fetchIndex(spark, n, "simple").get.entries === Vector((0L, 8)))
  }
}
