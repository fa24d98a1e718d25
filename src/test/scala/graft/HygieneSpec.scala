package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Dedup, Similarity}

/** Execution-hygiene specs (VERDICT r2 #1/#2/#5): a full query session
  * leaks zero caches, duplicate-group assembly runs one driver action per
  * round, and band self-joins stay bounded on degenerate (hot-bucket)
  * corpora. */
class HygieneSpec extends SparkSpec {

  import spark.implicits._

  test("a full session over every declared query leaks ZERO persisted RDDs") {
    // other suites share the session and may hold caches of their own
    CacheScope.release(spark)
    spark.catalog.clearCache()
    val dir = sf("0.001")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      finally CacheScope.release(spark)
      val leaked = spark.sparkContext.getPersistentRDDs
      assert(leaked.isEmpty,
        s"after $name: ${leaked.size} persisted RDDs leaked (${leaked.keys.toSeq.sorted})")
    }
  }

  test("ScaleProbe selectors match labels EXACTLY, never by substring") {
    // ADVICE r11/r12: "store" must select nothing (it is a prefix of several
    // labels, the exact label of none), and a selected label runs only itself
    assert(ScaleProbe.selects(Nil, "emb_kmeans"))
    assert(ScaleProbe.selects(Seq("emb_kmeans"), "emb_kmeans"))
    assert(!ScaleProbe.selects(Seq("emb"), "emb_kmeans"))
    assert(!ScaleProbe.selects(Seq("store"), "store_write"))
    assert(!ScaleProbe.selects(Seq("store_write_x"), "store_write"))
    assert(!ScaleProbe.selects(Seq(""), "store_write"))
    assert(ScaleProbe.selects(Seq("a", "store_write"), "store_write"))
  }

  /** Every `.scala` file under `dir` (relative to the repository root),
    * with its text, in path order. */
  private def scalaSources(dir: String): Seq[(java.io.File, String)] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** Calls into parquet-mr's conf-less entry points in `src`: each builds a
    * fresh Hadoop `Configuration` and re-parses its XML defaults (~10 ms)
    * per file: a one-argument `ParquetFileReader.open(` (no top-level
    * comma in its argument list), `ParquetReader.builder(` and the
    * writer's `appendFile`. */
  private def confLessParquetOpens(src: String): Seq[String] = {
    def at(re: String) = re.r.findAllMatchIn(src).map(_.end).toSeq
    def line(i: Int) = src.substring(0, i).count(_ == '\n') + 1
    def oneArg(from: Int): Boolean = {
      var (depth, i) = (1, from)
      while (i < src.length && depth > 0) {
        src(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => return false
          case _ =>
        }
        i += 1
      }
      true
    }
    at("""ParquetFileReader\.open\(""").filter(oneArg)
      .map(i => s"line ${line(i)}: one-argument ParquetFileReader.open(") ++
      at("""ParquetReader\.builder\(""").map(i => s"line ${line(i)}: ParquetReader.builder(") ++
      // also as a method value: `files.foreach(w.appendFile)`
      at("""\.appendFile\b""").map(i => s"line ${line(i)}: .appendFile")
  }

  test("src/main opens parquet files only through ParquetOpen, under the caller's conf") {
    // the detector itself: flags each conf-less form, passes the conf'd ones
    assert(confLessParquetOpens("ParquetFileReader.open(in)").size === 1)
    assert(confLessParquetOpens("ParquetFileReader.open(f(a, b))").size === 1)
    assert(confLessParquetOpens("ParquetFileReader.open(in, opts.build())").isEmpty)
    assert(confLessParquetOpens("ParquetReader.builder(rs, p).withConf(c)").size === 1)
    assert(confLessParquetOpens("inputs.foreach(w.appendFile)\nw.appendFile(in)").size === 2)
    assert(confLessParquetOpens("r.appendTo(w); w.appendFiles(x)").isEmpty)
    val offenders = scalaSources("src/main/scala").flatMap { case (f, src) =>
      confLessParquetOpens(src).map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty,
      "parquet-mr's conf-less entry points re-parse Hadoop's XML defaults " +
        "(~10 ms) on every file; open through graft.sources.ParquetOpen " +
        "(open / withReader / foreachGroup) with the caller's conf instead:\n" +
        offenders.mkString("\n"))
  }

  /** Index-lifecycle code in `src`: a tombstone-path literal, per-table
    * compaction, generation retirement and the size-gated broadcast —
    * each of which [[graft.operators.IndexTables]] owns for every index
    * family. */
  private def lifecycleCode(src: String): Seq[String] = {
    def line(i: Int) = src.substring(0, i).count(_ == '\n') + 1
    Seq("/tombstones\"", "compactTable\\(", "maybeCompactTable\\(",
        "retireSuperseded\\(", "MaxProbeBroadcastBytes\\)\\s*broadcast")
      .flatMap(re => re.r.findAllMatchIn(src)
        .map(m => s"line ${line(m.start)}: ${m.matched.replaceAll("\\s+", " ")}"))
  }

  test("index lifecycle code lives only in IndexTables") {
    // the detector itself: flags each form, passes the delegations
    assert(lifecycleCode("spark.read.parquet(s\"$path/tombstones\")").size === 1)
    assert(lifecycleCode("IndexTables.compactTable(spark, t)").size === 1)
    assert(lifecycleCode("maybeCompactTable(spark, t, 16)").size === 1)
    assert(lifecycleCode("retireSuperseded(fs, table)").size === 1)
    assert(lifecycleCode(
      "if (b <= Similarity.MaxProbeBroadcastBytes) broadcast(df) else df").size === 1)
    assert(lifecycleCode("if (b <= MaxProbeBroadcastBytes)\n  broadcast(df)").size === 1)
    assert(lifecycleCode("IndexTables.compact(spark, path) // path/tombstones`").isEmpty)
    assert(lifecycleCode("IndexTables.tombstones(spark, path).antiJoin(df, k)").isEmpty)
    assert(lifecycleCode(
      "IndexTables.maybeBroadcast(df, b) // [[IndexTables.MaxProbeBroadcastBytes]]").isEmpty)
    val offenders = scalaSources("src/main/scala")
      .filter(_._1.getName != "IndexTables.scala")
      .flatMap { case (f, src) => lifecycleCode(src).map(h => s"${f.getPath} $h") }
    assert(offenders.isEmpty,
      "compaction, tombstones, retirement and broadcast gating of the " +
        "persisted indexes go through graft.operators.IndexTables:\n" +
        offenders.mkString("\n"))
  }

  /** Parquet reads in `src`, as (line, enclosing def): a `.read` chained
    * to `.parquet(` through any calls in between (`spark.read.parquet(`,
    * `spark.read.schema(s).parquet(`, split across lines). Each one is a
    * relation Spark infers a schema for with a job unless the caller
    * passes one. */
  private def parquetReads(src: String): Seq[(Int, String)] = {
    val arg = """\((?:[^()]|\([^()]*\))*\)"""
    val read = ("""\.\s*read\b(?:\s*\.\s*\w+\s*(?:""" + arg +
      """)?)*?\s*\.\s*parquet\s*\(""").r
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(src).toSeq
    read.findAllMatchIn(src).map { m =>
      (src.substring(0, m.start).count(_ == '\n') + 1,
        defs.takeWhile(_.start < m.start).lastOption.fold("")(_.group(1)))
    }.toSeq
  }

  test("index tables are read only through IndexTables' footer-schema reader") {
    // the detector itself: flags each spelling, passes writes and the reader
    assert(parquetReads("def f = spark.read.parquet(dir)") === Seq((1, "f")))
    assert(parquetReads("def g =\n  spark.read\n    .parquet(s\"$a/b\")").size === 1)
    assert(parquetReads("def h = s.read.schema(t(x)).option(\"a\", \"b\").parquet(p: _*)")
      .size === 1)
    assert(parquetReads("def w = df.write.mode(m).parquet(dir)").isEmpty)
    assert(parquetReads("def r = IndexTables.read(spark, dir).filter(c)").isEmpty)
    assert(parquetReads("def o = records.read(); df.write.parquet(p)").isEmpty)
    val files = scalaSources("src/main/scala/graft/operators")
    val offenders = files.collect {
      case (f, src) if Set("TextIndex.scala", "Dedup.scala",
          "Similarity.scala")(f.getName) =>
        parquetReads(src).map { case (l, _) => s"${f.getPath} line $l" }
      case (f, src) if f.getName == "IndexTables.scala" =>
        parquetReads(src).collect {
          case (l, d) if d != "readFiles" => s"${f.getPath} line $l in $d"
        }
    }.flatten
    assert(offenders.isEmpty,
      "index tables are read through IndexTables.read / readLive (schema " +
        "from one footer, no inference job):\n" + offenders.mkString("\n"))
    assert(files.exists { case (f, src) =>
      f.getName == "IndexTables.scala" && parquetReads(src).nonEmpty },
      "the reader itself must be found")
  }

  /** Driver-side Parquet writing in `src`, as (line, form, enclosing
    * def): parquet-mr's example writer, Spark's output-writer factory
    * (named or instantiated) and a `.inprogress` staging name. */
  private def parquetWriters(src: String): Seq[(Int, String, String)] = {
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(src).toSeq
    Seq("ExampleParquetWriter", "OutputWriterFactory", """\.newInstance\(""",
        """\.inprogress"""")
      .flatMap(_.r.findAllMatchIn(src).map { m =>
        (src.substring(0, m.start).count(_ == '\n') + 1, m.matched,
          defs.takeWhile(_.start < m.start).lastOption.fold("")(_.group(1)))
      })
  }

  test("src/main writes driver-side parquet only through LocalParquet.publish") {
    // the detector itself: flags each form, passes the publisher's callers
    assert(parquetWriters("def w = ExampleParquetWriter.builder(p)") ===
      Seq((1, "ExampleParquetWriter", "w")))
    assert(parquetWriters("val f: OutputWriterFactory = x").size === 1)
    assert(parquetWriters("def n =\n  factory.newInstance(p, s, ctx)") ===
      Seq((2, ".newInstance(", "n")))
    assert(parquetWriters("val tmp = new Path(dir, s\".$base.inprogress\")").size === 1)
    assert(parquetWriters("if (nm.endsWith(\".inprogress\")) f.delete(p)").size === 1)
    assert(parquetWriters("LocalParquet.publish(spark, schema, files) // .inprogress").isEmpty)
    assert(parquetWriters("w.newInstanceOf(x); ParquetWriter.DEFAULT_BLOCK_SIZE").isEmpty)
    val found = scalaSources("src/main/scala").flatMap { case (f, src) =>
      parquetWriters(src).map { case (l, form, d) => (f, l, form, d) }
    }
    val offenders = found.collect {
      case (f, l, form, d) if !(
          (form == "ExampleParquetWriter" && f.getName == "TimeStore.scala" &&
            d == "mergePartitionDir") ||
          (form != "ExampleParquetWriter" && f.getName == "LocalParquet.scala")) =>
        s"${f.getPath} line $l: $form in ${if (d.isEmpty) "(top level)" else d}"
    }
    assert(offenders.isEmpty,
      "driver-side parquet files are written, staged and renamed only by " +
        "graft.sources.LocalParquet.publish (the example writer survives " +
        "only in the store compaction's mixed-schema fallback):\n" +
        offenders.mkString("\n"))
    assert(found.map(_._3).toSet === Set("ExampleParquetWriter", ".newInstance(",
      ".inprogress\""), "the publisher and the compaction fallback must be found")
  }

  test("CacheScope leaves a frame its caller persisted cached through cache, free and release") {
    import org.apache.spark.storage.StorageLevel
    val mine = spark.range(0, 1000).toDF("x").persist()
    try {
      mine.count()
      assert(CacheScope.cache(mine) eq mine)
      CacheScope.free(mine)
      CacheScope.release(spark)
      assert(mine.storageLevel !== StorageLevel.NONE,
        "release dropped a cache its caller still holds")
      // a frame CacheScope persisted itself is still registered and freed
      val scoped = CacheScope.cache(spark.range(0, 999).toDF("y"))
      assert(scoped.storageLevel !== StorageLevel.NONE)
      CacheScope.release(spark)
      assert(scoped.storageLevel === StorageLevel.NONE)
    } finally mine.unpersist(blocking = true)
  }

  /** Hand-built sessions in `src`: calls of the session builder on the
    * `SparkSession` companion, whitespace around the dot allowed. */
  private def sessionBuilders(src: String): Int =
    """SparkSession\s*\.\s*builder\s*\(""".r.findAllMatchIn(src).size

  test("one engine config: sessions build only in GraftSession and RegisterNamespace") {
    // the detector itself (the call spelled in pieces, so this file holds
    // no builder call of its own)
    val (ss, b) = ("SparkSession", "builder()")
    assert(sessionBuilders(s"$ss.$b") === 1)
    assert(sessionBuilders(s"$ss\n  .$b\n  .master(m)") === 1)
    assert(sessionBuilders(s"a($ss.$b); b($ss.$b)") === 2)
    assert(sessionBuilders(s"GraftSession.local(4); $ss.active; $ss.builderX()") === 0)
    val builders = scalaSources("src").collect {
      case (f, src) if sessionBuilders(src) > 0 => f.getName
    }
    assert(builders.toSet === Set("GraftSession.scala", "RegisterNamespace.scala"),
      "local entry points and the test fixture take their session from " +
        "GraftSession.local (RegisterNamespace is the spark-submit entry)")
    // the static engine confs are set in exactly one place
    val main = scalaSources("src/main/scala")
    Seq("spark.sql.codegen.cache.maxEntries",
        "spark.shuffle.sort.bypassMergeThreshold").foreach { key =>
      val holders = main.collect { case (f, src) if src.contains(key) => f.getName }
      assert(holders === Seq("GraftSession.scala"), s"$key set in $holders")
    }
  }

  test("duplicateGroups runs exactly ONE driver action per round") {
    // star graph: round 1 relabels every leaf (changed=3), round 2 confirms
    // convergence (changed=0) -> exactly 2 rounds, so exactly 2 actions
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("i", "j")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    @volatile var actions = 0
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // Dataset.rdd fires a listener event too, when the lineage
        // truncation wrappers build their RDD over the materialized cache —
        // plan construction only, no job and no data pass; the contract
        // here is one DATA action per round, so "rdd" events don't count
        if (funcName != "rdd") actions += 1
      def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val labels =
      try {
        val out = Dedup.duplicateGroups(pairs, nodes).collect()
        // listener delivery is async
        val deadline = System.currentTimeMillis() + 10000
        while (actions < 5 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        Thread.sleep(500) // let any extra action surface
        out
      } finally spark.listenerManager.unregister(listener)
    CacheScope.release(spark)
    // 2 one-off cache materializations (edges, self-loop-augmented edges)
    // + 2 round actions + the final collect()
    assert(actions === 5, s"expected 2 setup + 2 rounds + 1 collect, saw $actions")
    assert(labels.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("duplicateGroups evaluates the pair input exactly ONCE") {
    // the pair input is the expensive upstream (shingle -> minhash -> band
    // join -> verify); re-evaluating it per edge-union branch / active-node
    // derivation made the operator 6.7x slower at 50k nodes (measured:
    // 249 s -> 37 s). The accumulator bumps once per partition per
    // EVALUATION, so a single evaluation of the 2-partition input adds 2.
    val acc = spark.sparkContext.longAccumulator("pairEvals")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("i", LongType), StructField("j", LongType)))
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(2L, 3L), Row(4L, 5L)), 2)
        .mapPartitions { it => acc.add(1); it }, schema)
    val out = Dedup.duplicateGroups(base, (1L to 6L).toDF("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    assert(acc.value === 2L, s"pair input evaluated ${acc.value / 2.0} times")
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("duplicateGroups: long chains converge within diameter rounds; maxIter bounds pathology") {
    // path graph 0-1-2-...-9: min label needs 9 hops
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("i", "j")
    val nodes = (0L to 10L).toDF("id") // node 10 is a singleton
    val full = Dedup.duplicateGroups(pairs, nodes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    assert((0L to 9L).forall(full(_) == 0L), s"chain not fully propagated: $full")
    assert(full(10L) === 10L, "singleton must stay its own canonical")
    // maxIter below the diameter: completes (warns, no throw) with
    // partially-propagated labels — the documented bound
    val partial = Dedup.duplicateGroups(pairs, nodes, maxIter = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    assert(partial(9L) !== 0L, "3 rounds cannot reach 9 hops")
    assert(partial(1L) === 0L)
  }

  test("duplicateGroupsStar: diameter-50 chain converges in <= 12 alternations") {
    // the pathological shape for min propagation: a 51-node path needs 50
    // HashToMin rounds, but large-star/small-star halves chain distances
    // per alternation — log2(50) ≈ 6, so 12 is a comfortable hard bound
    val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("i", "j")
    val nodes = (0L to 52L).toDF("id") // 51, 52 are singletons
    val out = Dedup.duplicateGroupsStar(pairs, nodes, maxIter = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    assert((0L to 50L).forall(out(_) == 0L),
      s"chain not fully flattened within 12 alternations: $out")
    assert(out(51L) === 51L && out(52L) === 52L,
      "singletons must stay their own canonical")
    // contract parity with the HashToMin default on a mixed shape
    val mixed = Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L), (7L, 9L))
      .toDF("i", "j")
    val mnodes = (1L to 10L).toDF("id")
    val star = Dedup.duplicateGroupsStar(mixed, mnodes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    val htm = Dedup.duplicateGroups(mixed, mnodes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    CacheScope.release(spark)
    assert(star === htm, s"star=$star differs from hashToMin=$htm")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "duplicateGroupsStar leaked caches after release")
  }

  test("bench reports a broken query as err, never its time-to-throw") {
    val (sec, err) = Bench.timeOne(spark, sf("0.001"),
      (_, _) => throw new IllegalStateException("deliberately broken"))
    assert(sec === -1.0)
    assert(err.exists(_.contains("deliberately broken")), err)
    val (okSec, okErr) = Bench.timeOne(spark, sf("0.001"),
      (s, d) => Tables.nation(s, d))
    assert(okSec > 0 && okErr.isEmpty)
  }

  test("bench cpus: a number in every JSON line, or a fast failure") {
    assert(GraftSession.parseCpus(None) === 8)
    assert(GraftSession.parseCpus(Some(" 32")) === 32)
    Seq("", "eight", "0", "-4", "4.5").foreach { raw =>
      intercept[IllegalArgumentException](GraftSession.parseCpus(Some(raw)))
    }
  }

  test("capHotBuckets drops oversized band buckets only") {
    val bucketed = Seq(
      (1L, 0, 10L), (2L, 0, 10L), (3L, 0, 10L), // hot bucket, size 3
      (4L, 0, 20L)                              // small bucket
    ).toDF("doc", "band", "bh")
    val kept = Dedup.capHotBuckets(bucketed, cap = 2)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L))
  }

  test("simhash band join stays bounded on a degenerate all-identical corpus") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 60L).map(i => (i, text)).toDF("doc_id", "text")
      .repartition(4)
    // every document shares every band bucket (size 60): with the guard the
    // quadratic self-join is skipped entirely
    val capped = Dedup.simhashPairs(docs, "doc_id", "text", 3, 0.5, maxBucket = 10)
    assert(capped.count() === 0)
    CacheScope.release(spark)
    // without triggering the cap the same corpus pairs completely
    val uncapped = Dedup.simhashPairs(docs, "doc_id", "text", 3, 0.5)
    assert(uncapped.count() === 60L * 59L / 2L)
    CacheScope.release(spark)
  }

  test("ann_lsh probe join stays bounded on a degenerate identical-vector corpus") {
    // every corpus vector lands in the same bucket of every band: without
    // the corpus-side cap each probe would score the entire corpus — the
    // quadratic blowup the other band joins already guard against
    val vec = (0 until 64).map(d => 0.1 * ((d % 7) - 3)).toArray
    val emb = (0L until 50L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val probes = (0L until 5L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val capped = Similarity.lshTopK(emb, probes, "vec_id", "embedding",
      k = 3, maxBucket = 10)
    assert(capped.count() === 0)
    CacheScope.release(spark)
    // an uncapped run on the same corpus scores everything (k per probe)
    val uncapped = Similarity.lshTopK(emb, probes, "vec_id", "embedding",
      k = 3, maxBucket = Int.MaxValue)
    assert(uncapped.count() === 5L * 3L)
    CacheScope.release(spark)
  }

  test("embedding band join stays bounded on a degenerate identical-vector corpus") {
    val vec = (0 until 64).map(d => 0.1 * ((d % 7) - 3)).toArray
    val emb = (0L until 50L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val capped = Similarity.lshBandedPairs(emb, "vec_id", "embedding",
      threshold = 0.4, maxBucket = 10)
    assert(capped.count() === 0)
    val uncapped = Similarity.lshBandedPairs(emb, "vec_id", "embedding",
      threshold = 0.4)
    assert(uncapped.count() === 50L * 49L / 2L)
  }
}
