package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Point
import graft.operators.{Dedup, Similarity, Sketches, TextAnalysis}
import graft.sources.TimeStore

/** Scale probe — measures how the core operator pipelines grow with input
  * size, on synthetic corpora far larger than the driver fixtures (the
  * fixtures verify CORRECTNESS at sf≤0.1; this tool provides the evidence
  * that the plans stay linear on the way to cluster scale). Results are
  * recorded in SCALE.md.
  *
  * Synthesis is fully DISTRIBUTED and deterministic: documents and
  * embeddings derive from `spark.range` ids through hash arithmetic
  * (xxhash64 → vocab/component index), no driver-side loops, no RNG state.
  * Every 20th document gets a planted near-duplicate (one appended token)
  * so the dedup paths have real work at every scale.
  *
  * Usage: `sbt 'runMain graft.ScaleProbe [probe ...] [diskonly] [n ...]'`.
  * Numeric args are document/vector counts (default 20000 80000); other
  * args select probes of the [[registry]] by EXACT name (none: all);
  * `diskonly` persists the synthetic inputs at DISK_ONLY. One JSON line per
  * measurement: seconds plus the per-task skew read of the shared
  * [[JobTimes]] listener (whole-op max/median task ms, hot stage).
  */
object ScaleProbe {

  /** ~120-token word-salad docs over a 400-word vocabulary; doc 20k+1 is a
    * near-dup of doc 20k (same text + one extra token). */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      .withColumn("gid",
        when(pmod(col("doc_id"), lit(20L)) === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("text", array_join(
        transform(sequence(lit(0), lit(119)),
          p => concat(lit("w"),
            pmod(xxhash64(col("gid") * 128 + p), lit(400L)).cast("string"))), " "))
    base.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(20L)) === 1,
        concat(col("text"), lit(" extradup"))).otherwise(col("text")).as("text"),
      concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"))
  }

  /** 64-dim embeddings with hash-derived components in [-1, 1); vec 20k+1
    * is a small perturbation of vec 20k (cosine ≈ 0.99). */
  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("gid",
        when(pmod(col("vec_id"), lit(20L)) === 1, col("vec_id") - 1)
          .otherwise(col("vec_id")))
      .withColumn("pert",
        when(pmod(col("vec_id"), lit(20L)) === 1, lit(0.05)).otherwise(lit(0.0)))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => (pmod(xxhash64(col("gid") * dim + d), lit(2000L)) - 1000L) / 1000.0
            + col("pert") * ((pmod(xxhash64(col("vec_id") * dim + d + 7), lit(2000L)) - 1000L) / 1000.0))
          .cast("array<float>").as("embedding"))

  /** Selector rule: an empty selector set runs everything; otherwise a
    * probe runs iff one of its names is selected EXACTLY — never by
    * substring (a short arg like "store" used to match several labels at
    * once and could skip input caching for probes that do read docs/emb). */
  private[graft] def selects(sel: Seq[String], label: String): Boolean =
    sel.isEmpty || sel.contains(label)

  /** One size's measurement context: the synthetic inputs (persisted once,
    * outside every timed region) and the timing wrappers. */
  private final class Ctx(val spark: SparkSession, val n: Long,
                          val lvl: StorageLevel, listener: JobTimes) {
    private var held = List.empty[DataFrame]
    private def input(df: DataFrame): DataFrame = {
      // a plain persist, not CacheScope: the per-measurement release must
      // not drop the inputs and time their synthesis into the next probe
      df.persist(lvl).count(); held ::= df; df
    }
    lazy val docs: DataFrame = input(synthDocs(spark, n))
    lazy val emb: DataFrame = input(synthEmbeddings(spark, n))
    /** Labels synthesized as vec_id mod 10. */
    def labeled: DataFrame =
      emb.withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int"))
    def unpersist(): Unit = held.foreach(_.unpersist(blocking = true))

    def timeAction(label: String)(body: => Unit): Unit = {
      listener.clear(); listener.enabled = true
      val t0 = System.nanoTime()
      try body
      finally {
        // listener bus is async; give queued task-end events a beat to drain
        Thread.sleep(200)
        listener.enabled = false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      CacheScope.release(spark)
      val (hsMax, hsMed, hsTasks, hsName) = listener.hotStage
      println(f"""{"op":"$label","n":$n,"sec":$sec%.2f,"jobs":${listener.jobs.size},""" +
        s""""max_task_ms":${listener.maxTaskMs},"med_task_ms":${listener.medTaskMs},""" +
        s""""hot_stage":{"max_ms":$hsMax,"med_ms":$hsMed,"tasks":$hsTasks,""" +
        s""""name":"${hsName.replace("\\", "/").replace("\"", "'")}"}}""")
    }

    def time(label: String)(df: => DataFrame): Unit =
      timeAction(label)(df.write.format("noop").mode("overwrite").save())
  }

  /** A growth probe: selected by any of `names`; `docs`/`emb` name the
    * synthetic inputs it reads, materialized before its timed region. */
  private final case class Probe(names: Seq[String], docs: Boolean = false,
                                 emb: Boolean = false)(val run: Ctx => Unit)

  private def onDocs(name: String)(f: Ctx => Unit) = Probe(Seq(name), docs = true)(f)
  private def onEmb(name: String)(f: Ctx => Unit) = Probe(Seq(name), emb = true)(f)

  private def minhashPairs(docs: DataFrame): DataFrame =
    Dedup.minhashLshPairs(Dedup.shingles(docs, "doc_id", "text", 3),
      k = 64, r = 4, threshold = 0.5)

  /** SemDeDup sizing law: cells ≈ n / 500 keeps the cell-scoped quadratic
    * term bounded (~500²/2 pair-dots per cell); g is the smallest divisor
    * of k at or above √k (the IMI-optimal split). */
  private def semCells(n: Long): Int = math.max(16, (n / 500).toInt)
  private def semGroup(k: Int): Int =
    Iterator.from(math.sqrt(k.toDouble).toInt).find(k % _ == 0).get
  private def semBook(k: Int) = Array.tabulate(k, 64)(Similarity.centroidComponent)

  /** 64n synthetic store points over 1024 even (simple) addresses. */
  private def storePoints(spark: SparkSession, rows: Long,
                          keep: org.apache.spark.sql.Column = lit(true)) = {
    import spark.implicits._
    spark.range(rows).filter(keep).select(
        (pmod(col("id"), lit(1024L)) * 2).as("address"),
        (col("id") * 1000L).as("time"),
        xxhash64(col("id")).as("payload"),
        lit(null).cast("binary").as("value"))
      .as[Point]
  }

  /** Runs `body` against a fresh 64-bucket namespace, deleted afterwards. */
  private def withStore(c: Ctx, tag: String)(body: TimeStore.Namespace => Unit): Unit = {
    val root = queries.Streaming.tempWorkspace(s"graft-probe-$tag-${c.n}")
    val ns = TimeStore.namespace(root, tag.toUpperCase)
    TimeStore.register(c.spark, ns, 64, 64)
    try body(ns)
    finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(c.spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Every growth probe SCALE.md's tables cite, in run order. */
  private val registry: Seq[Probe] = Seq(
    onDocs("dedup_minhash_lsh")(c => c.time("dedup_minhash_lsh")(minhashPairs(c.docs))),
    onDocs("dedup_groups")(c => c.time("dedup_groups")(
      Dedup.duplicateGroups(minhashPairs(c.docs), c.docs.select(col("doc_id").as("id"))))),
    // the alternating-star variant on the same pair graph: near-clique
    // components converge in few rounds either way, so at synthetic-probe
    // shapes this measures the per-alternation constant (the log-diameter
    // advantage only shows on chain graphs — spec'd, not probed)
    onDocs("dedup_groups_star")(c => c.time("dedup_groups_star")(
      Dedup.duplicateGroupsStar(minhashPairs(c.docs),
        c.docs.select(col("doc_id").as("id"))))),
    // incremental dedup: every 5th doc as the incoming batch against the
    // rest — candidate volume tracks the BATCH, not the corpus
    onDocs("dedup_cross")(c => c.time("dedup_cross") {
      val batch = pmod(col("doc_id"), lit(5)) === 0
      Dedup.minhashLshPairsCross(
        Dedup.shingles(c.docs.filter(batch), "doc_id", "text", 3),
        Dedup.shingles(c.docs.filter(!batch), "doc_id", "text", 3),
        k = 64, r = 4, threshold = 0.5)
    }),
    // nibble bands (16×4 bits) only have 16 bucket values each, so
    // occupancy grows n/16 — trade hamming tolerance for block width
    onDocs("dedup_simhash") { c =>
      val bands = if (c.n <= 20000) 16 else 8
      c.time(s"dedup_simhash_b$bands")(Dedup.simhashPairs(c.docs, "doc_id",
        "text", shingleN = 3, threshold = 0.5, bands = bands))
    },
    onDocs("text_winnow")(c => c.time("text_winnow")(
      TextAnalysis.winnow(c.docs, "doc_id", "text"))),
    onDocs("text_contamination")(c => c.time("text_contamination")(
      TextAnalysis.contamination(c.docs.filter(col("source") =!= "src0"),
        c.docs.filter(col("source") === "src0"), "doc_id", "text", n = 5))),
    onEmb("emb_quantize")(c => c.time("emb_quantize")(
      Similarity.quantizeStats(c.emb, "vec_id", "embedding"))),
    // PQ family: encode is a row-local projection; ADC search scans the
    // 2-byte codes against a broadcast probe table (8 lookups per pair)
    onEmb("emb_pq_quantize")(c => c.time("emb_pq_quantize")(
      Similarity.pqCodes(c.emb, "vec_id", "embedding"))),
    onEmb("ann_pq")(c => c.time("ann_pq")(Similarity.pqTopK(c.emb,
      c.emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5))),
    // composed IVF-PQ: the cell join cuts the scored volume to
    // ~nprobe/cells of ann_pq's full ADC scan
    onEmb("ann_ivfpq")(c => c.time("ann_ivfpq")(Similarity.ivfPqTopK(c.emb,
      c.emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      cells = 16, nprobe = 4))),
    // the declared sized-LSH call, count() included: r = log2(n/16) keeps
    // buckets ~16 vectors (fixed r=8 went quadratic: 396 s at 80k)
    onEmb("dedup_embedding")(c =>
      c.time(s"dedup_embedding_r${Similarity.sizedBandBits(c.n)}")(
        Similarity.lshBandedPairsSized(c.emb, "vec_id", "embedding",
          threshold = 0.4, bands = 4, dim = 64))),
    // corpus-side cell assignment runs in the cell-join exchange's map
    // stage — where the LSH signature once hit the JIT method-split cliff
    onEmb("ann_ivf")(c => c.time("ann_ivf")(Similarity.ivfTopK(c.emb,
      c.emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      cells = 16, nprobe = 4))),
    // fused PQ codebook training: ONE job chain per iteration covers all
    // 8 subspaces — linear in n with a subs·ksub·ds model constant
    onEmb("pq_train_books")(c => c.timeAction("pq_train_books") {
      Similarity.pqTrainBooks(c.emb, "embedding", subs = 8, ksub = 4,
        iters = 2, dim = 64)
    }),
    // 256 cells × 64 dims is past CellLiteralBudget: train and search both
    // assign through the broadcast-codebook JOIN path (plan O(1) in k)
    onEmb("ann_ivf_trained_k256")(c => c.time("ann_ivf_trained_k256")(
      Similarity.ivfTrainedTopK(c.emb, c.emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, cells = 256, nprobe = 16, iters = 2,
        dim = 64))),
    // repeated-passage scrubs: one narrow census shuffle + broadcast dup
    // set + row-local rebuild — linear in corpus tokens (substr: ~10× the
    // gram volume of seg)
    onDocs("text_seg_dedup")(c => c.time("text_seg_dedup")(
      TextAnalysis.segDedup(c.docs, "doc_id", "text"))),
    onDocs("text_substr_dedup")(c => c.time("text_substr_dedup")(
      TextAnalysis.substrDedup(c.docs, "doc_id", "text"))),
    // DSIR: uni+bi hashed-feature stream, 256-row broadcast model
    onDocs("text_dsir_weight")(c => c.time("text_dsir_weight")(
      TextAnalysis.dsirWeight(c.docs, "doc_id", "text", col("source") === "src0"))),
    // SemDeDup at the paper's sizing law (cells ≈ n/500): n·k narrow
    // assignment stream + bounded pairing; the two-level form cuts the
    // assignment to n·(k/g + g) dots
    onEmb("dedup_semantic") { c =>
      val k = semCells(c.n)
      c.time(s"dedup_semantic_k$k")(Similarity.semanticDedupWith(c.emb,
        "vec_id", "embedding", threshold = 0.4, semBook(k)))
    },
    onEmb("dedup_semantic2") { c =>
      val k = semCells(c.n); val g = semGroup(k)
      c.time(s"dedup_semantic2_k${k}_g$g")(Similarity.semanticDedup2LevelWith(
        c.emb, "vec_id", "embedding", threshold = 0.4, semBook(k), groupSize = g))
    },
    // hard-negative mining: the same cell-scoped pairing family (Σ cell²)
    // plus one two-winner aggregate; flat and two-level assignment
    onEmb("emb_hard_negatives") { c =>
      val k = semCells(c.n)
      c.time(s"emb_hard_negatives_k$k")(Similarity.hardNegatives(c.labeled,
        "vec_id", "label", "embedding", semBook(k)))
    },
    onEmb("emb_hard_negatives2") { c =>
      val k = semCells(c.n); val g = semGroup(k)
      c.time(s"emb_hard_negatives2_k${k}_g$g")(Similarity.hardNegatives(
        c.labeled, "vec_id", "label", "embedding", semBook(k), groupSize = Some(g)))
    },
    // bounded-model perplexity at topV=256 — below the 400-word synthetic
    // vocabulary, so the cap binds; the model size is printed as evidence
    // of its flatness (V+1 rows at any corpus size)
    onDocs("text_perplexity_topv")(c => c.timeAction("text_perplexity_topv") {
      TextAnalysis.unigramNegLogprobTopV(c.docs, "doc_id", "text", topV = 256)
        .write.format("noop").mode("overwrite").save()
      val vocab = c.docs.select(explode(split(lower(col("text")), " ")).as("t"))
        .agg(countDistinct(col("t"))).first().getLong(0)
      println(s"""{"op":"text_perplexity_topv_model","n":${c.n},""" +
        s""""vocab":$vocab,"model_rows":${math.min(vocab, 256L) + 1}}""")
    }),
    // centroid audits: the labels×dim broadcast side stays constant
    onEmb("emb_nearest_centroid")(c => c.time("emb_nearest_centroid")(
      Similarity.nearestCentroidConfusion(c.labeled, "vec_id", "label", "embedding"))),
    onEmb("emb_outliers")(c => c.time("emb_outliers")(
      Similarity.centroidOutlierStats(c.labeled, "vec_id", "label", "embedding"))),
    // shuffle-free tokenize → ordinal explode → slice: uniform tasks
    onDocs("text_chunk")(c => c.time("text_chunk")(
      TextAnalysis.chunk(c.docs, "doc_id", "text"))),
    // count-min: the counter shuffle is CONSTANT (64 cells per partition)
    onDocs("agg_countmin")(c => c.time("agg_countmin") {
      val keyed = c.docs.select(pmod(xxhash64(col("doc_id")), lit(1000L)).as("k"))
      val counters = Sketches.countMinCounters(keyed, "k", depth = 4, hexChars = 1)
      val heavy = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("k")).limit(20)
      Sketches.countMinEstimate(counters, heavy, "k", depth = 4, hexChars = 1)
    }),
    // 3 Pregel rounds through the SHARED core over a doc↔source graph;
    // ranks stay node-narrow, growth tracks the edge count per round
    onDocs("graph_pagerank")(c => c.timeAction("graph_pagerank") {
      queries.Graph.pagerankCore(c.docs.select(
          concat(lit("u:"), col("doc_id").cast("string")).as("a"),
          concat(lit("t:"), col("source")).as("b")).distinct(),
        lvl = c.lvl)
        .write.format("noop").mode("overwrite").save()
    }),
    // store ingest (route → one shuffle on (kind, epoch, bucket) →
    // partitioned append + rollover) and a 4-address quarter-range read:
    // bucket pruning keeps ≤4 of 64 partitions, the time predicate skips
    // row groups. One probe: a pruned read of a store the write skipped is
    // meaningless.
    Probe(Seq("store_write", "store_read_pruned"))(c => withStore(c, "store") { ns =>
      val rows = c.n * 64
      c.timeAction("store_write")(TimeStore.writePoints(c.spark, ns, storePoints(c.spark, rows)))
      c.time("store_read_pruned")(TimeStore.readSimple(c.spark, ns, 0L, rows * 250L,
        Seq(2L, 40L, 100L, 500L)))
    }),
    // compaction cycle: a streaming ingest appends one file per bucket PER
    // MICRO-BATCH; 32 appends → fragmented read → compact → same read
    Probe(Seq("store_compact"))(c => withStore(c, "compact") { ns =>
      val rows = c.n * 64
      val batches = 32
      c.timeAction(s"store_write_${batches}batches") {
        (0 until batches).foreach(b => TimeStore.writePoints(c.spark, ns,
          storePoints(c.spark, rows, pmod(col("id"), lit(batches.toLong)) === b)))
      }
      def read() = TimeStore.readSimple(c.spark, ns, 0L, rows * 250L,
        Seq(2L, 40L, 100L, 500L))
      c.time("store_read_fragmented")(read())
      c.timeAction("store_compact")(TimeStore.compact(c.spark, ns))
      c.time("store_read_compacted")(read())
    })
  )

  def main(args: Array[String]): Unit = {
    val lvl =
      if (args.contains("diskonly")) StorageLevel.DISK_ONLY
      else StorageLevel.MEMORY_AND_DISK
    val (numeric, named) = args.filter(_ != "diskonly").partition(_.forall(_.isDigit))
    val sizes = if (numeric.nonEmpty) numeric.map(_.toLong).toSeq
                else Seq(20000L, 80000L)
    val unknown = named.filterNot(a => registry.exists(_.names.contains(a)))
    require(unknown.isEmpty, s"unknown probe(s) ${unknown.mkString(", ")}; " +
      s"known: ${registry.flatMap(_.names).mkString(", ")}")
    val selected = registry.filter(_.names.exists(selects(named.toSeq, _)))
    val spark = GraftSession.local(
      GraftSession.parseCpus(sys.env.get("SPARK_GRAFT_CPUS").orElse(Some("32"))))
    val listener = new JobTimes
    spark.sparkContext.addSparkListener(listener)
    for (n <- sizes) {
      val c = new Ctx(spark, n, lvl, listener)
      try selected.foreach { p =>
        if (p.docs) c.docs
        if (p.emb) c.emb
        p.run(c)
      } finally c.unpersist()
    }
    spark.stop()
  }
}
