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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = walk(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      confLessParquetOpens(src).map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty,
      "parquet-mr's conf-less entry points re-parse Hadoop's XML defaults " +
        "(~10 ms) on every file; open through graft.sources.ParquetOpen " +
        "(open / withReader / foreachGroup) with the caller's conf instead:\n" +
        offenders.mkString("\n"))
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
