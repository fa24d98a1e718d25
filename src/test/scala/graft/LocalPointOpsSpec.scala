package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.core.Point
import graft.sources.{GraftScan, MutableKV, TimeStore}

/** Driver-local point-op parity: the single-object read/append twins
  * ([[TimeStore.readSimpleLocal]]/[[TimeStore.readExtendedLocal]]/
  * [[TimeStore.writePointsLocal]] — the reference's one-rados-object cost
  * model for `Mutable.lookup`/`insertWith`, `Mutable.hs:48-103`) must be
  * interchangeable per-call with the distributed path on the same
  * namespace: same layout, same pinned dedup winner, same unsigned order,
  * same lease fence. */
class LocalPointOpsSpec extends SparkSpec {

  def freshNs(): TimeStore.Namespace =
    TimeStore.namespace(Files.createTempDirectory("graft-local").toString, "LOCAL")

  def ds(ps: Point*): org.apache.spark.sql.Dataset[Point] = {
    import spark.implicits._
    spark.createDataset(ps)
  }

  private def collectSimple(n: TimeStore.Namespace, start: Long, end: Long,
                            addrs: Seq[Long]): Seq[Point] =
    TimeStore.readSimple(spark, n, start, end, addrs).collect().toSeq
      .map(r => Point(r.getLong(0), r.getLong(1), r.getLong(2)))

  private def collectExtended(n: TimeStore.Namespace, start: Long, end: Long,
                              addrs: Seq[Long]): Seq[Point] =
    TimeStore.readExtended(spark, n, start, end, addrs).collect().toSeq
      .map(r => Point(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]](3)))

  test("local and distributed paths are interchangeable on one namespace") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    // batch 1 through the DISTRIBUTED writer: simple + extended points,
    // including one side of a duplicate (address, time) pair and a point
    // past 2^63 (unsigned-time corner)
    TimeStore.writePoints(spark, n, ds(
      Point(2L, 10L, 100L),
      Point(4L, 10L, 7L),          // dup pair, payload 7 — loses to 3 below
      Point(6L, -5L, 1L),          // time >= 2^63
      Point(3L, 20L, 2L, Array[Byte](1, 2)),
      Point(5L, 20L, 2L, Array[Byte](9))))  // dup (5,20) vs local batch
    // batch 2 through the LOCAL writer: the other duplicate halves + more
    TimeStore.writePointsLocal(spark, n, Seq(
      Point(4L, 10L, 3L),          // pinned winner: smaller unsigned payload
      Point(2L, 30L, 200L),
      Point(5L, 20L, 2L, Array[Byte](1)),  // same payload, smaller value wins
      Point(7L, -3L, 2L, Array[Byte](4, 4))))
    val addrsS = Seq(2L, 4L, 6L)
    val addrsE = Seq(3L, 5L, 7L)
    // full unsigned range [0, maxBound]
    val simpleDist = collectSimple(n, 0L, -1L, addrsS)
    val simpleLocal = TimeStore.readSimpleLocal(spark, n, 0L, -1L, addrsS)
    assert(simpleLocal === simpleDist)
    assert(simpleDist.map(p => (p.address, p.time, p.payload)) ===
      Seq((2L, 10L, 100L), (4L, 10L, 3L), (2L, 30L, 200L), (6L, -5L, 1L)))
    val extDist = collectExtended(n, 0L, -1L, addrsE)
    val extLocal = TimeStore.readExtendedLocal(spark, n, 0L, -1L, addrsE)
    assert(extLocal === extDist)
    assert(extDist.find(p => p.address == 5L).get.value === Array[Byte](1))
    // a bounded unsigned sub-range prunes identically on both paths
    val subDist = collectSimple(n, 15L, -4L, addrsS)
    assert(TimeStore.readSimpleLocal(spark, n, 15L, -4L, addrsS) === subDist)
    assert(subDist.map(_.address) === Seq(2L, 6L))
  }

  test("local reads match the distributed scan on a compacted, fragmented, tombstoned namespace") {
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    val addrs = (2L to 9L).toSeq // even: simple, odd: extended
    def batch(times: Seq[Long], pay: Long): Seq[Point] =
      for (a <- addrs; t <- times) yield
        if (a % 2 == 0) Point(a, t, pay + a)
        else Point(a, t, pay + a, Array[Byte](a.toByte, pay.toByte))
    // four chronological distributed batches, one per time band — across
    // the unsigned sign boundary — so each compacted bucket file holds one
    // row group per batch, with disjoint time statistics
    val bands = Seq(100L to 140L by 10L,
      (Long.MaxValue - 40L) to Long.MaxValue by 10L,
      Long.MinValue to (Long.MinValue + 40L) by 10L,
      -50L to -10L by 10L)
    bands.zipWithIndex.foreach { case (ts, i) =>
      TimeStore.writePoints(spark, n, ds(batch(ts, 10L * i): _*))
    }
    TimeStore.compact(spark, n)
    // fragments after the compaction: duplicates of compacted (address,
    // time) pairs that win (smaller payload) and lose, plus new points
    TimeStore.writePointsLocal(spark, n, batch(Seq(110L, Long.MinValue + 10L), -2L))
    TimeStore.writePointsLocal(spark, n, batch(Seq(120L, Long.MaxValue), 99L) ++
      batch(Seq(Long.MaxValue - 5L), 7L))
    // pending takedowns: a whole address, a sign-crossing range, a stream batch
    TimeStore.deletePoints(spark, n, Seq(4L))
    TimeStore.deletePoints(spark, n, Seq(5L, 6L), Long.MaxValue - 20L, Long.MinValue + 20L)
    val streamed = Seq((3L, 100L, 120L), (8L, -50L, -30L), (7L, 0L, -1L))
    TimeStore.deletePointsBatch(spark, n, streamed, "parity", 0L)
    val triples = TimeStore.loadDeleteTriples(spark.sparkContext.hadoopConfiguration,
      TimeStore.deleteFiles(spark, n))
    val published = triples.grouped(3).map(t => (t(0), t(1), t(2))).toSet
    assert(published === Set((4L, 0L, -1L), (5L, Long.MaxValue - 20L, Long.MinValue + 20L),
      (6L, Long.MaxValue - 20L, Long.MinValue + 20L)) ++ streamed)

    // the compacted files really hold several row groups, and the
    // sign-crossing predicate really skips some of them at open
    import org.apache.parquet.filter2.predicate.FilterApi
    val (start, end) = (Long.MaxValue - 25L, Long.MinValue + 25L)
    val tcol = FilterApi.longColumn("time")
    val crossing = FilterApi.or(FilterApi.gtEq(tcol, java.lang.Long.valueOf(start)),
      FilterApi.ltEq(tcol, java.lang.Long.valueOf(end)))
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(TimeStore.livePointsPath(spark, n).get)
    val files = live.getFileSystem(conf).listFiles(live, true)
    val compacted = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.startsWith("compacted")).toSeq
    assert(compacted.nonEmpty)
    compacted.foreach { st =>
      val (all, kept) = graft.sources.ParquetOpen.withReader(conf, st, Some(crossing)) { r =>
        (r.getFooter.getBlocks.size, r.getRowGroups.size)
      }
      assert(all >= bands.size && kept > 0 && kept < all,
        s"${st.getPath}: $kept of $all row groups kept")
    }

    val simple = addrs.filter(_ % 2 == 0)
    val ext = addrs.filter(_ % 2 == 1)
    // full range, the sign-crossing ranges (one open to the unsigned max),
    // single-half ranges (two with both bounds negative), one address, and
    // an unsigned-empty range (start > end) that must read as nothing
    val ranges = Seq((0L, -1L), (start, end), (120L, -1L), (105L, 135L), (-45L, -15L),
      (Long.MinValue + 15L, -20L), (-50L, 150L))
    def parity(n: TimeStore.Namespace): Unit = ranges.foreach { case (s0, e0) =>
      Seq(simple, Seq(2L)).foreach { as =>
        assert(TimeStore.readSimpleLocal(spark, n, s0, e0, as) === collectSimple(n, s0, e0, as),
          s"simple [$s0, $e0] $as")
      }
      Seq(ext, Seq(9L)).foreach { as =>
        assert(TimeStore.readExtendedLocal(spark, n, s0, e0, as) === collectExtended(n, s0, e0, as),
          s"extended [$s0, $e0] $as")
      }
    }
    parity(n)
    // a registered, never-written namespace reads as empty on both paths
    val unwritten = freshNs()
    TimeStore.register(spark, unwritten, 2, 2)
    parity(unwritten)
    assert(collectSimple(unwritten, 0L, -1L, simple).isEmpty)
    // the comparison is not vacuous: rows survive, fragments win, takedowns bite
    val full = TimeStore.readSimpleLocal(spark, n, 0L, -1L, simple)
    assert(full.exists(p => p.address == 2L && p.time == 110L && p.payload == 0L))
    assert(!full.exists(_.address == 4L))
    assert(!full.exists(p => p.address == 6L && (p.time == Long.MaxValue || p.time == Long.MinValue)))
    assert(full.exists(p => p.address == 6L && p.time == 100L))
    assert(TimeStore.readExtendedLocal(spark, n, 0L, -1L, Seq(7L)).isEmpty)
    assert(TimeStore.readSimpleLocal(spark, n, -50L, 150L, simple).isEmpty)
    assert(TimeStore.readSimpleLocal(spark, n, start, end, simple).map(_.time).toSet ===
      Set(Long.MaxValue - 20L, Long.MaxValue - 10L, Long.MaxValue - 5L, Long.MaxValue,
        Long.MinValue, Long.MinValue + 10L, Long.MinValue + 20L))
    assert(collectSimple(n, 120L, -1L, Seq(2L)).map(_.time).contains(-10L))
    assert(collectSimple(n, Long.MinValue + 15L, -20L, Seq(2L)).map(_.time) ===
      Seq(Long.MinValue + 20L, Long.MinValue + 30L, Long.MinValue + 40L, -50L, -40L, -30L, -20L))
  }

  test("a leaf holding distributed, driver-written and older example-writer " +
      "files compacts by concatenation, every row kept") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import graft.sources.{ParquetConcat, ParquetOpen}
    val n = freshNs()
    TimeStore.register(spark, n, 1, 1) // one leaf per kind
    val conf = spark.sparkContext.hadoopConfiguration
    def leaf(kind: String) = new Path(s"${n.pointsDir}/kind=$kind/epoch=0/bucket=0")
    def footer(st: org.apache.hadoop.fs.FileStatus) =
      ParquetOpen.withReader(conf, st)(_.getFooter)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    TimeStore.writePoints(spark, n, ds(
      Point(2L, 10L, 1L), Point(4L, 11L, 2L), Point(3L, 12L, 3L, Array[Byte](7))))
    TimeStore.writePointsLocal(spark, n, Seq(
      Point(2L, 20L, 4L), Point(6L, 21L, 5L), Point(5L, 22L, 6L, Array[Byte](8, 9)),
      Point(7L, 23L, 7L)))
    Seq("simple", "extended").foreach { kind =>
      val files = ParquetConcat.dataFiles(conf, leaf(kind))
      val (local, dist) = files.partition(_.getPath.getName.contains("-local"))
      assert(local.size === 1 && dist.size === 1, files.map(_.getPath.getName))
      val (f0, f1) = (footer(dist.head).getFileMetaData, footer(local.head).getFileMetaData)
      // the physical schema mergePartitionDir's LocalFileSchema spells
      assert(f1.getSchema.toString.replaceAll("\\s+", " ").trim ===
        "message spark_schema { required int64 address; required int64 time; " +
          "required int64 payload; optional binary value; }")
      assert(f1.getSchema === f0.getSchema, kind)
      assert(f1.getKeyValueMetaData.get(rowMeta) === f0.getKeyValueMetaData.get(rowMeta) &&
        f0.getKeyValueMetaData.containsKey(rowMeta), kind)
      val probe = new Path(Files.createTempDirectory("graft-concat").toString, "m.parquet")
      assert(ParquetConcat.mergeSameSchema(conf, files, probe),
        s"$kind: the leaf must take the concatenation path")
    }
    // a fragment written the way earlier versions wrote driver-side puts:
    // parquet-mr's example writer under the hand-written schema
    val legacySchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { required int64 address; required int64 time; " +
        "required int64 payload; optional binary value; }")
    val w = ExampleParquetWriter.builder(
        new Path(leaf("extended"), "part-legacy-local.snappy.parquet"))
      .withConf(conf).withType(legacySchema).build()
    try Seq(Point(9L, 30L, 1L, Array[Byte](3)), Point(3L, 12L, 0L, null)).foreach { p =>
      val g = new SimpleGroupFactory(legacySchema).newGroup()
      g.append("address", p.address).append("time", p.time).append("payload", p.payload)
      if (p.value != null) g.append("value", Binary.fromConstantByteArray(p.value))
      w.write(g)
    } finally w.close()
    val (sAddrs, eAddrs) = (Seq(2L, 4L, 6L), Seq(3L, 5L, 7L, 9L))
    def reads() = (collectSimple(n, 0L, -1L, sAddrs), collectExtended(n, 0L, -1L, eAddrs))
    val before = reads()
    assert(before._1.size === 4 && before._2.size === 4)
    assert(before._2.find(_.address == 3L).get.payload === 0L,
      "the legacy fragment's row is read (and wins the pinned dedup)")
    val groups = Seq("simple", "extended").map(k =>
      k -> ParquetConcat.dataFiles(conf, leaf(k)).map(footer(_).getBlocks.size).sum).toMap
    TimeStore.compact(spark, n)
    val live = TimeStore.livePointsPath(spark, n).get
    Seq("simple", "extended").foreach { kind =>
      val files = ParquetConcat.dataFiles(conf,
        new Path(s"$live/kind=$kind/epoch=0/bucket=0"))
      assert(files.size === 1, kind)
      // concatenation keeps every input row group and the Spark schema
      // metadata; the re-encode fallback would write one row group without it
      val merged = footer(files.head)
      assert(merged.getBlocks.size === groups(kind), kind)
      assert(merged.getFileMetaData.getKeyValueMetaData.containsKey(rowMeta), kind)
    }
    assert(reads() === before)
    assert(TimeStore.readSimpleLocal(spark, n, 0L, -1L, sAddrs) === before._1)
    assert(TimeStore.readExtendedLocal(spark, n, 0L, -1L, eAddrs) === before._2)
  }

  test("sign-crossing reads plan only their index epochs; unregistered reads fail at the call") {
    // rollover after every batch: epochs on both sides of the sign bit
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    Seq(Seq(10L, 20L), Seq(1000L, 1010L), Seq(Long.MaxValue - 10L), Seq(-30L, -20L))
      .foreach(ts => TimeStore.writePoints(spark, n, ds(ts.map(t => Point(2L, t, t)): _*),
        rolloverBytes = 1L))
    val idx = TimeStore.fetchIndex(spark, n, "simple").get
    assert(idx.entries.size === 5, idx)
    Seq((1005L, -1L), (1005L, -25L)).foreach { case (s0, e0) =>
      val df = TimeStore.readSimple(spark, n, s0, e0, Seq(2L))
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val files = plan.collect { case b: BatchScanExec => b.scan }
        .collect { case g: GraftScan => g.plannedFiles }.flatten
      val epochs = idx.rangeEntries(s0, e0).map(_._1).toSet
      assert(epochs.size < idx.entries.size && !epochs.contains(0L), epochs)
      assert(files.nonEmpty && files.forall(f => epochs.contains(f.epoch)),
        s"[$s0, $e0] planned ${files.map(_.epoch)} outside $epochs")
      assert(df.collect().map(_.getLong(1)).toSeq ===
        TimeStore.readSimpleLocal(spark, n, s0, e0, Seq(2L)).map(_.time))
    }
    assert(collectSimple(n, 1005L, -25L, Seq(2L)).map(_.time) === Seq(1010L, Long.MaxValue - 10L, -30L))
    val ex = intercept[IllegalStateException] {
      TimeStore.readSimple(spark, freshNs(), 0L, -1L, Seq(2L))
    }
    assert(ex.getMessage.contains("invalid namespace"))
  }

  test("ParquetOpen's filtered row loop returns exactly ParquetReader's rows") {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 address; required int64 time; optional binary value; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-open").resolve("f.parquet").toString)
    // small pages and row groups, time-sorted: several row groups, each of
    // several pages, so stats skip whole groups and column indexes skip pages
    val w = ExampleParquetWriter.builder(path).withConf(conf).withType(schema)
      .withRowGroupSize(16L << 10).withPageSize(1024).withPageRowCountLimit(200)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try (0 until 6000).foreach { i =>
      val g = factory.newGroup()
      g.append("address", (i * 7919L) % 50)
      g.append("time", Long.MaxValue - 3000L + i) // crosses into the negative half
      if (i % 3 == 0) g.append("value", s"v$i")
      w.write(g)
    } finally w.close()
    def row(g: Group) = (g.getLong("address", 0), g.getLong("time", 0),
      if (g.getFieldRepetitionCount("value") > 0) g.getString("value", 0) else null)
    def viaReader(p: Option[FilterPredicate]) = {
      val b = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf)
      val r = p.fold(b)(q => b.withFilter(FilterCompat.get(q))).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map(row).toVector
      finally r.close()
    }
    def viaOpen(p: Option[FilterPredicate]) = {
      val st = path.getFileSystem(conf).getFileStatus(path)
      val out = Vector.newBuilder[(Long, Long, String)]
      graft.sources.ParquetOpen.foreachGroup(conf, st, p)(g => out += row(g))
      out.result()
    }
    val (t, a) = (FilterApi.longColumn("time"), FilterApi.longColumn("address"))
    def L(x: Long) = java.lang.Long.valueOf(x)
    val addrSet = new java.util.HashSet[java.lang.Long]()
    Seq(3L, 17L).foreach(x => addrSet.add(L(x)))
    val preds = Seq(None,
      Some(FilterApi.and(FilterApi.gtEq(t, L(Long.MaxValue - 2500L)),
        FilterApi.ltEq(t, L(Long.MaxValue - 2400L)))),
      Some(FilterApi.or(FilterApi.gtEq(t, L(Long.MaxValue - 10L)),
        FilterApi.ltEq(t, L(Long.MinValue + 10L)))),
      Some(FilterApi.and(FilterApi.ltEq(t, L(Long.MaxValue - 2000L)), FilterApi.in(a, addrSet))),
      Some(FilterApi.eq(t, L(5L))))
    preds.foreach { p =>
      val expected = viaReader(p)
      assert(viaOpen(p) === expected, s"predicate $p")
      if (p.isEmpty) assert(expected.size === 6000)
    }
    assert(viaOpen(preds(2)).size === 22)
  }

  test("local write honors the writer fence") {
    val n = freshNs()
    TimeStore.register(spark, n, 4, 4)
    TimeStore.withWriterLease(spark, n) {
      intercept[TimeStore.LeaseContentionException] {
        TimeStore.writePointsLocal(spark, n, Seq(Point(2L, 10L, 1L)))
      }
    }
    // released -> succeeds, and the distributed reader sees it
    TimeStore.writePointsLocal(spark, n, Seq(Point(2L, 10L, 1L)))
    assert(collectSimple(n, 0L, -1L, Seq(2L)) === Seq(Point(2L, 10L, 1L)))
  }

  test("local write routes against the rolled index like the distributed writer") {
    val n = freshNs()
    TimeStore.register(spark, n, 2, 2)
    // force a rollover through the distributed path (tiny threshold)
    TimeStore.writePoints(spark, n, ds(
      Point(2L, 10L, 1L), Point(4L, 20L, 2L)), rolloverBytes = 1L)
    val rolled = TimeStore.fetchIndex(spark, n, "simple").get
    assert(rolled.entries.length === 2)
    // a local append after the roll must land in the NEW epoch
    TimeStore.writePointsLocal(spark, n, Seq(Point(2L, 30L, 3L)))
    val (epoch, _) = graft.core.EpochIndex.locate(rolled, 30L, 2L)
    assert(epoch === rolled.entries.last._1)
    assert(collectSimple(n, 0L, -1L, Seq(2L, 4L)).map(_.payload) ===
      Seq(1L, 2L, 3L))
    assert(TimeStore.readSimpleLocal(spark, n, 0L, -1L, Seq(2L, 4L)) ===
      collectSimple(n, 0L, -1L, Seq(2L, 4L)))
  }

  test("mutable KV protocol is unchanged on the local fast path") {
    val root = Files.createTempDirectory("graft-local-kv").toString
    val n = TimeStore.namespace(root, "KV")
    val merge = (nw: Array[Byte], prev: Array[Byte]) =>
      prev ++ ",".getBytes("UTF-8") ++ nw
    MutableKV.insertWith(spark, n, merge, 10L, "a".getBytes("UTF-8"))
    MutableKV.insertWith(spark, n, merge, 10L, "b".getBytes("UTF-8"))
    MutableKV.insertWith(spark, n, merge, 10L, "c".getBytes("UTF-8"))
    assert(new String(MutableKV.lookup(spark, n, 10L).get, "UTF-8") === "a,b,c")
    MutableKV.insert(spark, n, 12L, "x".getBytes("UTF-8"))
    val rows = MutableKV.enumerate(spark, n).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1),
      new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSeq ===
      Seq((11L, 3L, "a,b,c"), (13L, 1L, "x")))
  }
}
