package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextIndex}

/** Maintenance lifecycle of the persisted index tables (VERDICT r12 #1;
  * [[graft.operators.IndexTables]]): appends fragment the data tables,
  * compaction merges each leaf directory back to one file via binary
  * row-group concatenation into a NEW generation and leaves the model
  * tables alone, results are row-identical across the swap, and the
  * superseded generation survives the swap (age-based retirement — a
  * reader that resolved it pre-swap keeps scanning). */
class IndexCompactSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("0.001"))

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val nm = st.getPath.getName
      if (st.isFile && !nm.startsWith("_") && !nm.startsWith("."))
        out += st.getPath.toString
    }
    out.toSeq
  }

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** A root generation's child tables split into (data, model) by whether
    * they hold `gen-*` generations. */
  private def tablesOf(root: String): (Set[String], Set[String]) =
    fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory)
      .partition(st => fs.listStatus(st.getPath)
        .exists(_.getPath.getName.startsWith("gen-"))) match {
      case (d, m) => (d.map(_.getPath.getName).toSet,
                      m.map(_.getPath.getName).toSet)
    }

  /** The (name, length, mtime) listing of a directory's files — the
    * fingerprint the serving model cache keys on. */
  private def listing(dir: String): Set[(String, Long, Long)] =
    fs.listStatus(new Path(dir)).toSeq
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet

  test("imi index: append fragments, compact merges to one file per leaf, " +
      "results identical, superseded generation retained") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-compact-spec").toString
    Similarity.imiIndexWrite(emb.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", path, groups = 4, groupSize = 4, iters = 1,
      dim = 64)
    // three appends — each lands as its own file set in the live generation
    (0 until 3).foreach { i =>
      Similarity.imiIndexAppend(spark,
        emb.filter(pmod(col("vec_id"), lit(10)) === 0 &&
          pmod(col("vec_id"), lit(30)) === i * 10),
        "vec_id", "embedding", path, groupSize = 4)
    }
    def search() = Similarity.imiIndexSearch(spark,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", path,
      k = 5, groupSize = 4, nprobeGroups = 2, nprobeCells = 4)
    val before = resultSet(search())
    val root = Similarity.indexLiveRoot(spark, path)
    val gen0Files = dataFiles(s"$root/lists/gen-000000")
    assert(gen0Files.size > 3,
      s"appends should fragment the live generation (got ${gen0Files.size})")
    val (dataTables, modelTables) = tablesOf(root)
    assert(dataTables === Set("lists") && modelTables === Set("coarse", "fine"))
    val modelsBefore = modelTables.map(t => t -> listing(s"$root/$t")).toMap

    Similarity.indexCompact(spark, path)
    // every data table ends with one file per leaf; the model tables are
    // not touched, so the serving model cache still hits
    dataTables.foreach(t =>
      assert(dataFiles(graft.operators.IndexTables.liveDir(spark,
        s"$root/$t")).size === 1, s"$t: one file per leaf"))
    assert(modelTables.map(t => t -> listing(s"$root/$t")).toMap ===
      modelsBefore, "compaction must leave the model tables as they were")
    val live = s"$root/lists/gen-000001"
    assert(fs.exists(new Path(s"$live/_SUCCESS")),
      "compaction must commit a complete new generation")
    // one file per leaf: unpartitioned fixture layout -> exactly one file
    assert(dataFiles(live).size === 1,
      s"compacted generation should hold one file (got ${dataFiles(live)})")
    assert(resultSet(search()) === before,
      "search must be row-identical across the compaction swap")
    // reader safety: the superseded generation is NOT deleted at swap time
    assert(fs.exists(new Path(s"$root/lists/gen-000000")),
      "superseded generation must survive until the lease horizon")
    // idempotent: a second compact produces gen 2 with the same rows
    Similarity.indexCompact(spark, path)
    assert(resultSet(search()) === before)
    fs.delete(new Path(path), true)
  }

  test("cell-partitioned layout: compact merges PER CELL directory and " +
      "keeps the partition column readable") {
    // the public writers only partition past MinRowsPerCellPartition
    // (unreachable at fixture size by design), so exercise the partitioned
    // compact branch on a directly-fabricated generational table — the
    // same layout imiIndexWrite produces in the 100 TB regime
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-compact-cells-spec").toString
    val root = s"$path/gen-000000" // fabricated index-root generation
    val table = s"$root/lists"
    val gen0 = s"$table/gen-000000"
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, i % 4, Seq(i * 1.0, i * 2.0)))
        .toDF("nbr_id", "cell", "cv")
    batch(0, 400).write.partitionBy("cell").parquet(gen0)
    (1 to 3).foreach(b =>
      batch(400 * b, 400 * (b + 1)).write.mode("append")
        .partitionBy("cell").parquet(gen0))
    graft.operators.IndexTables.commitRoot(spark, root)
    // a local batch lands driver-side: one file per cell directory
    graft.operators.IndexTables.appendLive(batch(1600, 1700), table)
    (0 until 4).foreach(c =>
      assert(dataFiles(s"$gen0/cell=$c").count(_.contains("-local")) === 1,
        s"cell=$c should hold the local append's one file"))
    val before = spark.read.parquet(gen0)
      .collect().map(_.toSeq).toSet
    assert(before.size === 1700)
    assert(dataFiles(s"$gen0/cell=0").size > 1,
      "appends should fragment each cell directory")
    Similarity.indexCompact(spark, path)
    val live = s"$table/gen-000001"
    (0 until 4).foreach(c =>
      assert(dataFiles(s"$live/cell=$c").size === 1,
        s"cell=$c should compact to one file"))
    val after = spark.read.parquet(live).collect().map(_.toSeq).toSet
    assert(after === before,
      "partitioned compact must preserve every row including the cell col")
    fs.delete(new Path(path), true)
  }

  test("a compaction that died mid-write never becomes live and the next " +
      "compact recovers") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-compact-crash-spec").toString
    Similarity.imiIndexWrite(emb.filter(col("vec_id") < 300), "vec_id",
      "embedding", path, groups = 2, groupSize = 2, iters = 1, dim = 64)
    def search() = Similarity.imiIndexSearch(spark,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", path,
      k = 3, groupSize = 2, nprobeGroups = 1, nprobeCells = 2)
    val before = resultSet(search())
    val root = Similarity.indexLiveRoot(spark, path)
    // simulate a compact that crashed after writing data but before its
    // _SUCCESS commit: an incomplete newest generation with garbage
    val dead = new Path(s"$root/lists/gen-000001")
    fs.mkdirs(dead)
    fs.create(new Path(dead, "garbage.parquet"), true).close()
    assert(resultSet(search()) === before,
      "readers must resolve the old complete generation, never the dead one")
    // the next compact deletes the dead attempt and commits a real gen 1
    Similarity.indexCompact(spark, path)
    assert(fs.exists(new Path(s"$root/lists/gen-000001/_SUCCESS")))
    assert(resultSet(search()) === before)
    fs.delete(new Path(path), true)
  }

  test("index retirement: a torn marker is re-stamped, an aged generation " +
      "retires, a fresh one stays") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-retire-spec").toString
    def build() = Similarity.imiIndexWrite(emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", path, groups = 2, groupSize = 2, iters = 1, dim = 64)
    def search() = Similarity.imiIndexSearch(spark,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", path,
      k = 3, groupSize = 2, nprobeGroups = 1, nprobeCells = 2)
    def marker(g: String) = new Path(g, "_SUPERSEDED_AT")
    def stampedAt(g: String): Long = {
      val in = fs.open(marker(g))
      try new String(in.readAllBytes()).trim.toLong finally in.close()
    }
    def torn(g: String): Unit = fs.create(marker(g), true).close()
    build()
    // root level: a rebuild supersedes root generation 0, whose marker a
    // writer then tore; the next rebuild's commit succeeds and re-stamps it
    build()
    val root0 = s"$path/gen-000000"
    assert(fs.exists(marker(root0)))
    torn(root0)
    val t0 = System.currentTimeMillis()
    build()
    assert(stampedAt(root0) >= t0, "the torn root marker restarts the clock")
    assert(Similarity.indexLiveRoot(spark, path).endsWith("gen-000002"))
    val before = resultSet(search())
    // table level: compaction supersedes lists generation 0; tear its marker
    val lists = s"${Similarity.indexLiveRoot(spark, path)}/lists"
    Similarity.indexCompact(spark, path)
    val (g0, g1) = (s"$lists/gen-000000", s"$lists/gen-000001")
    torn(g0)
    val t1 = System.currentTimeMillis()
    Similarity.indexCompact(spark, path) // the pass succeeds and re-stamps
    assert(stampedAt(g0) >= t1, "the torn table marker restarts the clock")
    assert(fs.exists(new Path(s"$lists/gen-000002/_SUCCESS")))
    // fresh markers: both superseded generations stay through another pass
    Similarity.indexCompact(spark, path)
    assert(fs.exists(new Path(g0)) && fs.exists(new Path(g1)))
    // an aged marker: that generation retires at the next pass, the fresh
    // ones stay
    val old = System.currentTimeMillis() - graft.sources.TimeStore.LeaseTimeoutMs - 5000
    val out = fs.create(marker(g0), true)
    try out.write(old.toString.getBytes) finally out.close()
    Similarity.indexCompact(spark, path)
    assert(!fs.exists(new Path(g0)), "aged generation retired")
    assert(fs.exists(new Path(g1)), "freshly superseded generation kept")
    assert(resultSet(search()) === before)
    fs.delete(new Path(path), true)
  }

  test("dedup signature index: stored-table check equals the recomputed " +
      "cross pairs, across append + compact") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf("0.001"))
    val held = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-dedup-index-spec").toString
    Dedup.dedupIndexWrite(Dedup.shingles(
        held.filter(pmod(col("doc_id"), lit(2)) =!= 0), "doc_id", "text", 3),
      path, k = 64, r = 4)
    Dedup.dedupIndexAppend(Dedup.shingles(
        held.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", 3),
      path, k = 64, r = 4)
    Dedup.dedupIndexCompact(spark, path)
    val shI = Dedup.shingles(incoming, "doc_id", "text", 3)
    val recomputed = resultSet(
      Dedup.minhashLshPairsCross(shI,
        Dedup.shingles(held, "doc_id", "text", 3), k = 64, r = 4,
        threshold = 0.5))
    assert(recomputed.nonEmpty)
    // both sides of the ceiling: the driver-resolved check and the
    // distributed one (ceiling 0: every batch is past it)
    Seq(TextIndex.MaxTermInListValues, 0L).foreach { c =>
      val fromIndex = resultSet(Dedup.dedupIndexOpen(spark, path).checkAt(
        shI, k = 64, r = 4, threshold = 0.5,
        maxBucket = Dedup.DefaultMaxBucket, maxInList = c))
      assert(fromIndex === recomputed,
        s"persisted-index check (ceiling $c) must reproduce the recomputed " +
          "cross pairs")
    }
    // buckets / shingles / sizes all compacted to one file each
    val dedupRoot = graft.operators.IndexTables.liveDir(spark, path)
    Seq("buckets", "shingles", "sizes").foreach(t =>
      assert(dataFiles(s"$dedupRoot/$t/gen-000001").size === 1, t))
    fs.delete(new Path(path), true)
  }

  test("dedupIndexRecap re-asserts the hot-bucket cap globally across " +
      "appended batches") {
    import graft.operators.Dedup
    import spark.implicits._
    // identical texts -> identical signatures -> ONE degenerate bucket
    // that stays under the cap per batch but crosses it by accumulation
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-recap-spec").toString
    // three batches of 4, each under the cap of 5 — the bucket crosses
    // the cap only by accumulation (12 members), exactly the window the
    // per-batch cap can't see
    Dedup.dedupIndexWrite(Dedup.shingles(mk(0, 4), "doc_id", "text", 3),
      path, k = 8, r = 4, maxBucket = 5)
    Seq((4, 8), (8, 12)).foreach { case (lo, hi) =>
      Dedup.dedupIndexAppend(Dedup.shingles(mk(lo, hi), "doc_id", "text", 3),
        path, k = 8, r = 4, maxBucket = 5)
    }
    // two held docs of another text, a bucket well under the cap
    val other = Seq(12L, 13L, 300L).map(i => (i, "one two three four five six"))
      .toDF("doc_id", "text")
    Dedup.dedupIndexAppend(Dedup.shingles(other.filter(col("doc_id") < 100),
      "doc_id", "text", 3), path, k = 8, r = 4, maxBucket = 5)
    val corpus = Dedup.shingles(
      mk(0, 12).union(other.filter(col("doc_id") < 100)), "doc_id", "text", 3)
    // both sides of the ceiling (0: every batch is past it) check alike
    def checkOf(sh: org.apache.spark.sql.DataFrame) = {
      val Seq(below, past) = Seq(TextIndex.MaxTermInListValues, 0L).map(c =>
        Dedup.dedupIndexOpen(spark, path).checkAt(sh, k = 8, r = 4,
          threshold = 0.5, maxBucket = 5, maxInList = c))
      assert(resultSet(below) === resultSet(past))
      below
    }
    // an incoming batch whose own (band, bh) buckets exceed the cap: six
    // copies of the held hot text pair nothing (the incoming-side cap), the
    // copy of the other text pairs with both of its held docs
    val hot = Dedup.shingles(
      mk(200, 206).union(other.filter(col("doc_id") === 300)), "doc_id", "text", 3)
    val hotPairs = resultSet(checkOf(hot))
    assert(hotPairs.map(p => (p(0), p(1))) === Set((300L, 12L), (300L, 13L)))
    assert(hotPairs === resultSet(Dedup.minhashLshPairsCross(hot, corpus,
      k = 8, r = 4, threshold = 0.5, maxBucket = 5)))
    val shI = Dedup.shingles(mk(100, 102), "doc_id", "text", 3)
    def check() = checkOf(shI)
    assert(check().count() > 0,
      "the accumulated 12-doc bucket must still pair before recap")
    Dedup.dedupIndexRecap(spark, path, maxBucket = 5)
    val after = check()
    assert(after.count() === 0,
      "recap must drop the globally-over-cap bucket")
    val cross = Dedup.minhashLshPairsCross(shI, corpus, k = 8, r = 4,
      threshold = 0.5, maxBucket = 5)
    assert(resultSet(after) === resultSet(cross),
      "post-recap stored-side cap semantics == whole-corpus cross cap")
    fs.delete(new Path(path), true)
  }

  test("pq index: compact after appends is row-identical and single-file") {
    val head = pmod(col("vec_id"), lit(10)) =!= 0
    val tail = pmod(col("vec_id"), lit(10)) === 0
    val probes = emb.filter(col("vec_id") < 10)
    // (name, write, append, search) of the two code-table families
    Seq[(String, String => Unit, String => Unit,
         String => org.apache.spark.sql.DataFrame)](
      ("pq",
        path => Similarity.pqIndexWrite(emb.filter(head), "vec_id",
          "embedding", path, subs = 8, ksub = 4, iters = 1, dim = 64),
        path => Similarity.pqIndexAppend(spark, emb.filter(tail), "vec_id",
          "embedding", path, subs = 8, ksub = 4, dim = 64),
        path => Similarity.pqIndexSearch(spark, probes, "vec_id",
          "embedding", path, k = 5, subs = 8, ksub = 4, dim = 64)),
      ("imi-pq",
        path => Similarity.imiPqIndexWrite(emb.filter(head), "vec_id",
          "embedding", path, groups = 4, groupSize = 4, iters = 1, dim = 64),
        path => Similarity.imiPqIndexAppend(spark, emb.filter(tail),
          "vec_id", "embedding", path, groupSize = 4, dim = 64),
        path => Similarity.imiPqIndexSearch(spark, probes, "vec_id",
          "embedding", path, k = 5, groupSize = 4, nprobeGroups = 2,
          nprobeCells = 4, dim = 64))
    ).foreach { case (name, write, append, search) =>
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-compact-$name-spec").toString
      write(path)
      append(path)
      val before = resultSet(search(path))
      val root = Similarity.indexLiveRoot(spark, path)
      assert(dataFiles(s"$root/codes/gen-000000").size > 1, name)
      Similarity.indexCompact(spark, path)
      assert(dataFiles(s"$root/codes/gen-000001").size === 1, name)
      assert(resultSet(search(path)) === before, name)
      fs.delete(new Path(path), true)
    }
  }

  test("maintenance ops are no-ops on a never-written index path — a " +
      "polling maintenance loop must not crash on an in-flight first build") {
    import graft.operators.{Dedup, IndexTables, TextIndex}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-maint-noop-spec").toString
    Similarity.indexCompact(spark, path)
    assert(!Similarity.indexMaybeCompact(spark, path))
    Similarity.indexVacuum(spark, path) // nothing pending
    // a delete BEFORE any build: tombstones land, vacuum keeps them
    // pending until there is an index generation to fold them into
    Similarity.indexDelete(spark, Seq(1L, 2L).toDF("vec_id"), "vec_id", path)
    Similarity.indexVacuum(spark, path)
    assert(graft.sources.ParquetConcat.dataFiles(
      spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/tombstones")).nonEmpty,
      "pre-build tombstones must stay pending, not vanish")
    TextIndex.bm25IndexCompact(spark, path)
    assert(!TextIndex.bm25IndexMaybeCompact(spark, path))
    Dedup.dedupIndexCompact(spark, path)
    assert(!Dedup.dedupIndexMaybeCompact(spark, path))
    Dedup.dedupIndexRecap(spark, path)
    assert(IndexTables.liveGenOpt(spark, path).isEmpty,
      "no maintenance op may conjure an index generation")
    fs.delete(new Path(path), true)
  }

  test("a legacy (pre-generational) layout fails loudly with a migration " +
      "hint — never a silent maintenance no-op or 'index never written?'") {
    import graft.operators.{IndexTables, TextIndex}
    val path = java.nio.file.Files
      .createTempDirectory("graft-legacy-spec").toString
    // the pre-r13 shape: table dirs directly under the index path
    emb.limit(4).select(col("vec_id")).write
      .parquet(s"$path/postings")
    def mustHint(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("legacy"), e.getMessage)
    }
    mustHint(IndexTables.liveGenOpt(spark, path))
    mustHint(IndexTables.liveDir(spark, path))
    mustHint(TextIndex.bm25IndexCompact(spark, path)) // maintenance too
    // markers, staging and the sanctioned tombstones dir are NOT legacy
    // content: an in-flight or takedown-only path keeps the no-op contract
    val clean = java.nio.file.Files
      .createTempDirectory("graft-legacy-ok").toString
    fs.mkdirs(new Path(s"$clean/tombstones"))
    fs.create(new Path(s"$clean/_marker"), true).close()
    assert(IndexTables.liveGenOpt(spark, clean).isEmpty)
    fs.delete(new Path(path), true)
    fs.delete(new Path(clean), true)
  }

  test("maybeCompact: quiet below the threshold, fires above it, " +
      "self-maintains under an append stream") {
    import graft.operators.IndexTables
    val path = java.nio.file.Files
      .createTempDirectory("graft-maybe-compact-spec").toString
    Similarity.imiIndexWrite(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", path, groups = 4, groupSize = 4, iters = 1,
      dim = 64)
    val root = Similarity.indexLiveRoot(spark, path)
    val baseFiles = dataFiles(s"$root/lists/gen-000000").size
    // below threshold: no compaction, no new generation
    assert(!Similarity.indexMaybeCompact(spark, path,
      maxFilesPerLeaf = baseFiles + 64))
    assert(IndexTables.liveDir(spark, s"$root/lists").endsWith("gen-000000"))
    // an append stream with the check after every batch: whenever the live
    // generation crosses the threshold the table folds itself back
    (0 until 4).foreach { b =>
      Similarity.imiIndexAppend(spark,
        emb.filter(pmod(col("vec_id"), lit(8)) === (2 * b + 1)),
        "vec_id", "embedding", path, groupSize = 4)
      Similarity.indexMaybeCompact(spark, path, maxFilesPerLeaf = baseFiles)
    }
    val live = IndexTables.liveDir(spark, s"$root/lists")
    assert(!live.endsWith("gen-000000"), "threshold crossings must compact")
    assert(dataFiles(live).size <= baseFiles,
      s"self-maintained table holds ${dataFiles(live).size} files")
    // the maintained index serves the full union
    val served = resultSet(Similarity.imiIndexSearch(spark,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", path,
      k = 5, groupSize = 4, nprobeGroups = 2, nprobeCells = 4))
    assert(served.nonEmpty)
    fs.delete(new Path(path), true)
  }
}
