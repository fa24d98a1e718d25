package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Usage: `sbt 'runMain graft.ScaleProbe 20000 80000'` — each argument is a
  * document/vector count; one JSON line per (op, n) pair.
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

  /** Collects per-task durations while one measurement runs: wall-clock
    * alone under-reports skew on a 32-core box until the hot partition
    * exceeds what one core absorbs inside the job's natural tail — the
    * max/median task ratio exposes the imbalance long before that. */
  private class TaskStats extends org.apache.spark.scheduler.SparkListener {
    val durs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val names = scala.collection.mutable.Map.empty[Int, String]
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      durs.synchronized {
        names(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n')
      }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      durs.synchronized { durs += ((t.stageId, t.taskInfo.duration)) }
    def maxMs: Long =
      durs.synchronized { if (durs.isEmpty) 0 else durs.map(_._2).max }
    def medMs: Long = durs.synchronized {
      if (durs.isEmpty) 0 else durs.map(_._2).sorted.apply(durs.size / 2)
    }
    /** The stage owning the slowest task, as (maxMs, medMs, tasks) — the
      * whole-op max/med ratio can't distinguish "one skewed stage" from
      * "a long stage among short ones"; this pins WHERE the tail lives. */
    def hotStage: (Long, Long, Int, String) = durs.synchronized {
      if (durs.isEmpty) (0L, 0L, 0, "")
      else {
        val byStage = durs.groupBy(_._1).view.mapValues(_.map(_._2))
        val (sid, ds) = byStage.maxBy(_._2.max)
        (ds.max, ds.sorted.apply(ds.size / 2), ds.size,
          names.getOrElse(sid, ""))
      }
    }
  }

  /** Non-numeric CLI args (other than "skew"/"diskonly") select which ops
    * run, by EXACT label match — e.g. `ScaleProbe emb_kmeans 80000`. Exact,
    * not substring (ADVICE r11/r12): a short arg like "store" used to match
    * several labels at once and could skip input caching for probes that do
    * read docs/emb. */
  private var only: Seq[String] = Nil

  /** Selector rule, extracted pure for the spec: an empty selector set runs
    * everything; otherwise a probe runs iff its label is selected EXACTLY. */
  private[graft] def selects(sel: Seq[String], label: String): Boolean =
    sel.isEmpty || sel.contains(label)

  private def timeAction(label: String, n: Long)(body: => Unit): Unit = {
    if (!selects(only, label)) return
    val spark = SparkSession.active
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    val t0 = System.nanoTime()
    try body
    finally {
      // listener bus is async; give queued task-end events a beat to drain
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(stats)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    CacheScope.release(spark)
    spark.catalog.clearCache()
    val (hsMax, hsMed, hsTasks, hsName) = stats.hotStage
    println(f"""{"op":"$label","n":$n,"sec":$sec%.2f,""" +
      s""""max_task_ms":${stats.maxMs},"med_task_ms":${stats.medMs},""" +
      s""""hot_stage":{"max_ms":$hsMax,"med_ms":$hsMed,"tasks":$hsTasks,""" +
      s""""name":"$hsName"}}""")
  }

  private def time(label: String, n: Long)(df: => DataFrame): Unit =
    timeAction(label, n) {
      df.write.format("noop").mode("overwrite").save()
    }

  def main(args: Array[String]): Unit = {
    val skewOnly = args.contains("skew")
    // "diskonly": persist the synthetic inputs at DISK_ONLY instead of
    // MEMORY_AND_DISK — the single-JVM probe's stand-in for executor
    // storage, so big-n runs (e.g. minhash at 640k) fit the default 8g
    // driver heap instead of needing SPARK_DRIVER_MEM=48g (VERDICT r7 #7)
    val diskOnly = args.contains("diskonly")
    val numeric = args.filter(_.forall(_.isDigit))
    only = args.filterNot(a =>
      a.forall(_.isDigit) || a == "skew" || a == "diskonly").toSeq
    val sizes = if (numeric.nonEmpty) numeric.map(_.toLong).toSeq
                else Seq(20000L, 80000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Dedup, Similarity, SkewOps, TextAnalysis}

    for (n <- sizes) {
      if (!skewOnly) {
      // materialize inputs once so op timings exclude synthesis — unless
      // every selected op is a store-family probe that synthesizes its own
      // points (store_decade at n=16-64M would otherwise pay tens of GB of
      // doc/embedding synthesis it never reads); the un-cached plans still
      // flow into the skipped time() thunks, which never force them
      // explicit whitelist of the SELF-CONTAINED probe labels (ops that
      // synthesize their own points and never read docs/emb) — matched
      // EXACTLY like every selector now, so a future label that reads
      // docs/emb can never alias into this list (ADVICE r11/r12: the old
      // substring tokens would have silently timed input synthesis into
      // such a probe)
      val selfContained = Seq("kv_point_ops", "store_write",
        "store_read_pruned", "store_compact", "store_decade", "dsv2_ab",
        "store_delete_ab", "epoch_order_ab", "delmask_ab", "dpp_ab")
      val inputsNeeded = only.isEmpty || !only.forall(selfContained.contains)
      val lvl =
        if (diskOnly) org.apache.spark.storage.StorageLevel.DISK_ONLY
        else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val docs =
        if (inputsNeeded) { val d = CacheScope.cache(synthDocs(spark, n), lvl)
          d.count(); d }
        else synthDocs(spark, n)
      val emb =
        if (inputsNeeded) { val e =
          CacheScope.cache(synthEmbeddings(spark, n), lvl)
          e.count(); e }
        else synthEmbeddings(spark, n)

      time("dedup_minhash_lsh", n) {
        Dedup.minhashLshPairs(Dedup.shingles(docs, "doc_id", "text", 3),
          k = 64, r = 4, threshold = 0.5)
      }
      time("dedup_groups", n) {
        Dedup.duplicateGroups(
          Dedup.minhashLshPairs(Dedup.shingles(docs, "doc_id", "text", 3),
            k = 64, r = 4, threshold = 0.5),
          docs.select(col("doc_id").as("id")))
      }
      // the alternating-star variant on the same pair graph: near-clique
      // components converge in few rounds either way, so at synthetic-probe
      // shapes this measures the per-alternation constant (the log-diameter
      // advantage only shows on chain graphs — spec'd, not probed)
      time("dedup_groups_star", n) {
        Dedup.duplicateGroupsStar(
          Dedup.minhashLshPairs(Dedup.shingles(docs, "doc_id", "text", 3),
            k = 64, r = 4, threshold = 0.5),
          docs.select(col("doc_id").as("id")))
      }
      // incremental dedup: every 5th doc as the incoming batch against the
      // rest — candidate volume tracks the BATCH, not the corpus
      time("dedup_cross", n) {
        Dedup.minhashLshPairsCross(
          Dedup.shingles(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
            "doc_id", "text", 3),
          Dedup.shingles(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
            "doc_id", "text", 3),
          k = 64, r = 4, threshold = 0.5)
      }
      // same sizing law as the hyperplane LSH below: nibble bands (16×4
      // bits) only have 16 bucket values each, so occupancy grows n/16 —
      // trade hamming tolerance for block width as n grows
      val shBands = if (n <= 20000) 16 else 8
      time(s"dedup_simhash_b$shBands", n) {
        Dedup.simhashPairs(docs, "doc_id", "text", shingleN = 3,
          threshold = 0.5, bands = shBands)
      }
      time("text_winnow", n) {
        TextAnalysis.winnow(docs, "doc_id", "text")
      }
      time("text_contamination", n) {
        TextAnalysis.contamination(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text", n = 5)
      }
      time("emb_quantize", n) {
        Similarity.quantizeStats(emb, "vec_id", "embedding")
      }
      // PQ family: encode is a row-local projection (must track corpus
      // size linearly); ADC search scans the 2-byte codes against a
      // broadcast probe table — the per-pair work is 8 array lookups, so
      // growth should also be linear with a probe-count constant
      time("emb_pq_quantize", n) {
        Similarity.pqCodes(emb, "vec_id", "embedding")
      }
      time("ann_pq", n) {
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5)
      }
      // composed IVF-PQ: the cell join should cut the scored volume to
      // ~nprobe/cells of ann_pq's full ADC scan
      time("ann_ivfpq", n) {
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5, cells = 16, nprobe = 4)
      }
      // LSH sizing is the scale lever: with FIXED r bits per band, average
      // bucket occupancy n/2^r grows linearly and the band self-join goes
      // quadratic (measured: 9.6 s at 20k but 396 s at 80k with r=8 on
      // this worst-case structureless corpus). The DECLARED path
      // (lshBandedPairsSized — what dedup_embedding runs) now self-sizes
      // r = log2(n/16) so buckets stay ~16 vectors; this measures that
      // exact call, count() included.
      time(s"dedup_embedding_r${Similarity.sizedBandBits(n)}", n) {
        Similarity.lshBandedPairsSized(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 4, dim = 64)
      }
      // same sized call with the count supplied by the caller (the catalog-
      // stat path): isolates the sizing count() — which on this SYNTHESIZED
      // corpus re-runs the whole 64-component generation, where a parquet
      // table answers from footer metadata
      time(s"dedup_embedding_nhint_r${Similarity.sizedBandBits(n)}", n) {
        Similarity.lshBandedPairsSized(emb, "vec_id", "embedding",
          threshold = 0.4, bands = 4, dim = 64, nHint = Some(n))
      }
      // IVF ANN at corpus scale: the corpus-side cell assignment (2×cells
      // codegen'd dots) runs in the cell-join exchange's map stage — the
      // same place the LSH signature hit the JIT method-split cliff
      time("ann_ivf", n) {
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5, cells = 16, nprobe = 4)
      }
      // fused PQ codebook training: ONE job chain per iteration covers all
      // 8 subspaces (assign projection + grouped decimal update + model
      // collect) — the sequential composition ran 8 separate trainings,
      // each re-scanning its corpus slice. Growth should be linear in n
      // with a subs·ksub·ds model constant.
      timeAction("pq_train_books", n) {
        Similarity.pqTrainBooks(emb, "embedding", subs = 8, ksub = 4,
          iters = 2, dim = 64)
      }
      // the replaced composition, kept measurable for the comparison: 8
      // sequential trainings (16 job chains vs the fused 2), each
      // re-scanning its slice of the corpus
      timeAction("pq_train_books_seq", n) {
        Similarity.pqTrainBooksSequential(emb, "embedding", subs = 8,
          ksub = 4, iters = 2, dim = 64)
      }
      // trained IVF at a production-shaped cell count: 256 cells × 64 dims
      // is past CellLiteralBudget, so BOTH the k-means assign step and the
      // search-time assignment run the broadcast-codebook JOIN path — the
      // plan stays O(1) in k while a literal plan would carry 16k+ constants
      // into codegen. Growth should be linear in n with a k constant.
      time("ann_ivf_trained_k256", n) {
        Similarity.ivfTrainedTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, cells = 256, nprobe = 16,
          iters = 2, dim = 64)
      }
      // repeated-passage scrub: census is a narrow (segment, doc) pair
      // shuffle (planted near-dups repeat all 12 segments of every 20th
      // doc), the boilerplate set broadcasts, the rebuild is row-local —
      // growth should be linear in corpus tokens
      time("text_seg_dedup", n) {
        TextAnalysis.segDedup(docs, "doc_id", "text")
      }
      // stride-1 ExactSubstr scrub: ~10× seg_dedup's gram volume (one
      // 16-hex fingerprint per token position), still one narrow census
      // shuffle + broadcast dup set + row-local rebuild — linear in
      // corpus tokens with a 10× constant over seg_dedup
      time("text_substr_dedup", n) {
        TextAnalysis.substrDedup(docs, "doc_id", "text")
      }
      // DSIR weights: one narrow hashed-feature stream (uni+bi ≈ 2×
      // token count), a 256-row broadcast model, one scoring aggregate —
      // linear in corpus tokens
      time("text_dsir_weight", n) {
        TextAnalysis.dsirWeight(docs, "doc_id", "text",
          col("source") === "src0")
      }
      // SemDeDup at the paper's sizing law: cells ≈ n / 500 keeps the
      // cell-scoped quadratic term bounded (~500²/2 pair-dots per cell);
      // past CellLiteralBudget/dim cells the assignment rides the
      // broadcast-codebook join path, so this measures the production
      // shape — n·k narrow assignment stream + bounded pairing
      val sdCells = math.max(16, (n / 500).toInt)
      time(s"dedup_semantic_k$sdCells", n) {
        Similarity.semanticDedupWith(emb, "vec_id", "embedding",
          threshold = 0.4,
          Array.tabulate(sdCells, 64)(Similarity.centroidComponent))
      }
      // key-narrow census A/B (VERDICT r7 #3): the identical pipeline with
      // the r7 window-form census — the wide cached frame through one
      // extra exchange just to size cells — vs the narrow aggregate +
      // broadcast join the production path now runs
      time(s"dedup_semantic_wincensus_k$sdCells", n) {
        Similarity.semanticDedupWindowCensus(emb, "vec_id", "embedding",
          threshold = 0.4,
          Array.tabulate(sdCells, 64)(Similarity.centroidComponent))
      }
      // two-level assignment at the same sizing law: n·(k/g + g) dots
      // instead of n·k — the hierarchical escape hatch for the quadratic
      // the k ∝ n sizing creates (assignment approximate vs flat, rule
      // exact; pairing term unchanged)
      val sdG = Iterator.from(math.sqrt(sdCells.toDouble).toInt)
        .find(g => sdCells % g == 0).get
      time(s"dedup_semantic2_k${sdCells}_g$sdG", n) {
        Similarity.semanticDedup2LevelWith(emb, "vec_id", "embedding",
          threshold = 0.4,
          Array.tabulate(sdCells, 64)(Similarity.centroidComponent),
          groupSize = sdG)
      }
      // hard-negative mining at the SemDeDup sizing law: same cell-scoped
      // pairing cost family (Σ cell²), plus two narrow winner aggregates —
      // should track dedup_semantic2's growth with a ~2× pair-consumer
      // constant
      time(s"emb_hard_negatives_k$sdCells", n) {
        Similarity.hardNegatives(
          emb.withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int")),
          "vec_id", "label", "embedding",
          Array.tabulate(sdCells, 64)(Similarity.centroidComponent))
      }
      // the same mining with the two-level assignment (r8: the flat argmax
      // re-created SemDeDup's n·k quadratic at this k ∝ n sizing — the
      // measured fix carries over through the shared assignment path)
      time(s"emb_hard_negatives2_k${sdCells}_g$sdG", n) {
        Similarity.hardNegatives(
          emb.withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int")),
          "vec_id", "label", "embedding",
          Array.tabulate(sdCells, 64)(Similarity.centroidComponent),
          groupSize = Some(sdG))
      }
      // unordered-vs-ordered pairing A/B at PRODUCTION embedding width:
      // at dim 64 halving the pair dots is a wash against the generator
      // repackage (measured 40.8/66.5 vs 29.1/70.1 across adjacent runs);
      // this block re-asks at dim 256 where the dot term dominates
      if (only.contains("hard_negatives_dim")) {
        val emb256 = CacheScope.cache(synthEmbeddings(spark, n, dim = 256), lvl)
        emb256.count()
        val l256 = emb256.withColumn("label",
          pmod(col("vec_id"), lit(10L)).cast("int"))
        val c256 = Array.tabulate(sdCells, 256)(Similarity.centroidComponent)
        val saved2 = only
        only = Nil
        try {
          time(s"emb_hard_negatives2_d256_k${sdCells}_unordered", n) {
            Similarity.hardNegatives(l256, "vec_id", "label", "embedding",
              c256, groupSize = Some(sdG))
          }
          time(s"emb_hard_negatives2_d256_k${sdCells}_ordered", n) {
            Similarity.hardNegatives(l256, "vec_id", "label", "embedding",
              c256, groupSize = Some(sdG), orderedPairs = true)
          }
        } finally only = saved2
        CacheScope.free(emb256)
      }
      // the IMI split law: per-row assignment is k/g + g dots, minimized
      // at g = √k — a deliberately lopsided g quantifies what ignoring it
      // costs (at k=2560: g=10 ⇒ 266 dots/row vs 104 at g≈√k)
      if (sdCells % 10 == 0)
        time(s"dedup_semantic2_k${sdCells}_g10", n) {
          Similarity.semanticDedup2LevelWith(emb, "vec_id", "embedding",
            threshold = 0.4,
            Array.tabulate(sdCells, 64)(Similarity.centroidComponent),
            groupSize = 10)
        }
      // Trained-IMI A/B (VERDICT r8 #6) at the paper-scale split k=2560 /
      // g=64, k FIXED regardless of n: group-means-of-flat-codebook (the
      // default two-level model) vs the directly trained coarse + per-group
      // fine codebooks ([[Similarity.imiTrain]]). Measured: training cost
      // of each model (flat Lloyd's is n·k dots/iter, IMI fine is n·g —
      // k-independent), assignment cost (identical rule either way), and
      // the RECALL PROXY — the fraction of planted near-dup pairs landing
      // in the same fine cell (co-cell is what makes SemDeDup/mining see a
      // pair at all), with flat rank-1 over the same fine book as the
      // exact-assignment reference.
      if (only.contains("imi_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val saved3 = only
        only = Nil
        var flat: Array[Array[Double]] = null
        var coarseT: Array[Array[Double]] = null
        var fineT: Array[Array[Double]] = null
        try {
          timeAction(s"imi_flat_train_k$k", n) {
            flat = Array.ofDim[Double](k, 64)
            Similarity.kmeansTrain(emb, "embedding", k, 2, 64)
              .collect().foreach { r =>
                flat(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
                  r.getAs[Double]("c_val")
              }
          }
          timeAction(s"imi_train_k${k}_g$g", n) {
            val (c, f) = Similarity.imiTrain(emb, "embedding", groups, g, 2, 64)
            coarseT = c; fineT = f
          }
          def cells(fine: Array[Array[Double]], gs: Int,
                    coarse: Option[Array[Array[Double]]]) =
            Similarity.semanticAssign2Level(emb, "vec_id", "embedding",
              fine, gs, coarseOverride = coarse)
              .select(col("vec_id"), col("cell"))
          time(s"imi_assign_groupmeans_k$k", n) { cells(flat, g, None) }
          time(s"imi_assign_trained_k$k", n) { cells(fineT, g, Some(coarseT)) }
          // co-cell rate of the planted pairs (vec 20i ~ 20i+1)
          def coRate(df: DataFrame): Double = {
            val right = df.filter(pmod(col("vec_id"), lit(20L)) === 1)
              .select((col("vec_id") - 1).as("vec_id"), col("cell").as("cb"))
            df.join(right, "vec_id")
              .agg(avg((col("cell") === col("cb")).cast("double")))
              .first().getDouble(0)
          }
          // flat rank-1 over the same book = groupSize k (one coarse group)
          val rFlatGm = coRate(cells(flat, k, None))
          val rGm = coRate(cells(flat, g, None))
          val rFlatTr = coRate(cells(fineT, k, None))
          val rTr = coRate(cells(fineT, g, Some(coarseT)))
          println(f"""{"op":"imi_ab_cocell","n":$n,"k":$k,"g":$g,""" +
            f""""groupmeans":$rGm%.4f,"groupmeans_flat_ref":$rFlatGm%.4f,""" +
            f""""trained":$rTr%.4f,"trained_flat_ref":$rFlatTr%.4f}""")
        } finally only = saved3
      }
      // Decompose the IMI trainer's wall time (`imi_parts`): the imi_ab
      // run showed trained-IMI (n·(k/g+g) scoring flops) only ~1.2× faster
      // end-to-end than flat Lloyd's (n·k flops) at k=2560 — coarse-train
      // deltas (1 vs 2 iters) and full-train deltas isolate the per-
      // iteration cost that is NOT scoring (the exploded exact-decimal
      // centroid update, routing, plan/cache fixed costs)
      if (only.contains("imi_parts")) {
        val k = 2560; val g = 64; val groups = k / g
        val saved6 = only
        only = Nil
        try {
          for (it <- Seq(1, 2)) {
            timeAction(s"imip_coarse_g${groups}_it$it", n) {
              Similarity.kmeansTrain(emb, "embedding", groups, it, 64).collect()
              ()
            }
          }
          for (it <- Seq(1, 2)) {
            timeAction(s"imip_full_k${k}_it$it", n) {
              Similarity.imiTrain(emb, "embedding", groups, g, it, 64)
              ()
            }
          }
        } finally only = saved6
      }
      // Persisted-IMI serving amortization (the r12 index gates' point,
      // measured at scale): imiIndexWrite pays training + list
      // materialization ONCE; imiIndexSearch serves every query from the
      // frozen parquet model; imiTrainedTopK (the pre-index shape) retrains
      // inside each invocation. The write/search/retrain split is the
      // amortization a production ANN deployment lives on.
      if (only.contains("imi_index_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-imiidx-$n").toString
        val probesDf = emb.filter(col("vec_id") < 100)
        val saved10 = only
        only = Nil
        try {
          timeAction(s"imiidx_write_k$k", n) {
            Similarity.imiIndexWrite(emb, "vec_id", "embedding", root,
              groups = groups, groupSize = g, iters = 2, dim = 64)
          }
          time(s"imiidx_search_k$k", n) {
            Similarity.imiIndexSearch(spark, probesDf, "vec_id", "embedding",
              root, k = 10, groupSize = g, nprobeGroups = 4, nprobeCells = 32)
          }
          time(s"imiidx_retrain_query_k$k", n) {
            Similarity.imiTrainedTopK(emb, probesDf, "vec_id", "embedding",
              k = 10, groups = groups, groupSize = g, iters = 2, dim = 64,
              nprobeGroups = 4, nprobeCells = 32)
          }
        } finally {
          only = saved10
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Post-append maintenance A/B (VERDICT r12 #1): a steady append
      // stream lands each batch as its own parquet file set, fragmenting
      // the persisted lists into exactly the small-file layout imi_index_ab
      // measured dominating search; indexCompact binary-merges each leaf
      // back to one file in a new generation. Search timed FRAGMENTED vs
      // COMPACTED on the same index, plus the serve-session model-cache
      // split (VERDICT r12 #5): first search per session reloads the
      // model (cold), subsequent ones hit the driver cache (warm).
      if (only.contains("imi_index_compact_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-imicompact-$n").toString
        val probesDf = emb.filter(col("vec_id") < 100)
        val saved11 = only
        only = Nil
        try {
          Similarity.imiIndexWrite(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            "vec_id", "embedding", root, groups = groups, groupSize = g,
            iters = 1, dim = 64)
          timeAction(s"imiidx_append16_k$k", n) {
            // 16 arrival batches: the odd half of the corpus in 16 slices
            (0 until 16).foreach { i =>
              Similarity.imiIndexAppend(spark,
                emb.filter(pmod(col("vec_id"), lit(32)) === (2 * i + 1)),
                "vec_id", "embedding", root, groupSize = g)
            }
          }
          def search(): org.apache.spark.sql.DataFrame =
            Similarity.imiIndexSearch(spark, probesDf, "vec_id", "embedding",
              root, k = 10, groupSize = g, nprobeGroups = 4, nprobeCells = 32)
          time(s"imiidx_search_fragmented_k$k", n) { search() }
          timeAction(s"imiidx_compact_k$k", n) {
            Similarity.indexCompact(spark, root)
          }
          timeAction(s"imiidx_serve_coldmodel_k$k", n) {
            Similarity.clearModelCache()
            search().write.format("noop").mode("overwrite").save()
          }
          time(s"imiidx_serve_warmmodel_k$k", n) { search() }
        } finally {
          only = saved11
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Persisted dedup-index A/B (r13): incremental near-dup check of a
      // 20% arrival batch against STORED signatures vs recomputing the
      // held corpus's signatures in-invocation (minhashLshPairsCross).
      // The stored path's point: per-batch cost tracks the batch — the
      // held side costs one write, amortized over every future batch.
      if (only.contains("dedup_index_ab")) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-dedupidx-$n").toString
        val saved14 = only
        only = Nil
        try {
          val held = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          timeAction("dedupidx_write", n) {
            Dedup.dedupIndexWrite(
              Dedup.shingles(held, "doc_id", "text", 3), root, k = 64, r = 4)
          }
          time("dedupidx_check_stored", n) {
            Dedup.dedupIndexCheck(spark,
              Dedup.shingles(incoming, "doc_id", "text", 3), root,
              k = 64, r = 4, threshold = 0.5)
          }
          time("dedupidx_check_recompute", n) {
            Dedup.minhashLshPairsCross(
              Dedup.shingles(incoming, "doc_id", "text", 3),
              Dedup.shingles(held, "doc_id", "text", 3),
              k = 64, r = 4, threshold = 0.5)
          }
        } finally {
          only = saved14
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Persisted BM25 index A/B (r13): keyword retrieval from STORED
      // postings/statistics vs recomputing the whole corpus's BM25 state
      // per query batch — the lexical serving split. Then the maintenance
      // story: 16 append batches fragment the postings, search re-times
      // fragmented vs compacted.
      if (only.contains("bm25_index_ab")) {
        import graft.operators.TextIndex
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-bm25-$n").toString
        val saved15 = only
        only = Nil
        try {
          val qs = docs.filter(col("doc_id") < 10)
            .select(col("doc_id").as("query_id"),
              array_join(slice(Dedup.tokens(col("text")), 1, 6), " ")
                .as("qtext"))
          val held = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          val late = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          timeAction("bm25idx_write", n) {
            TextIndex.bm25IndexWrite(held, "doc_id", "text", root)
          }
          time("bm25idx_search_stored", n) {
            TextIndex.bm25IndexSearch(spark, qs, "query_id", "qtext",
              root, k = 10)
          }
          time("bm25idx_search_recompute", n) {
            TextIndex.bm25TopK(held, qs, "doc_id", "text", "query_id",
              "qtext", k = 10)
          }
          timeAction("bm25idx_append16", n) {
            (0 until 16).foreach(b =>
              TextIndex.bm25IndexAppend(spark,
                late.filter(pmod(col("doc_id"), lit(32)) === (2 * b + 1)),
                "doc_id", "text", root))
          }
          time("bm25idx_search_fragmented", n) {
            TextIndex.bm25IndexSearch(spark, qs, "query_id", "qtext",
              root, k = 10)
          }
          timeAction("bm25idx_compact", n) {
            TextIndex.bm25IndexCompact(spark, root)
          }
          time("bm25idx_search_compacted", n) {
            TextIndex.bm25IndexSearch(spark, qs, "query_id", "qtext",
              root, k = 10)
          }
          // the additive-delta claim MEASURED (VERDICT r13 #4): a FIXED
          // 10k-doc batch appends into the full-size index and into a
          // 1/8th-size index in the same time — df/global land as deltas,
          // no held row is ever read, so append cost tracks the batch,
          // not the held corpus. Same-run pair, same batch both arms.
          val smallRoot = java.nio.file.Files
            .createTempDirectory(s"graft-probe-bm25small-$n").toString
          try {
            TextIndex.bm25IndexWrite(
              held.filter(pmod(col("doc_id"), lit(8)) === 0),
              "doc_id", "text", smallRoot)
            val fixedBatch = synthDocs(spark, 10000)
              .withColumn("doc_id", col("doc_id") + lit(4L * n))
            timeAction("bm25idx_append_fixed_into_full", n) {
              TextIndex.bm25IndexAppend(spark, fixedBatch, "doc_id", "text",
                root)
            }
            timeAction("bm25idx_append_fixed_into_eighth", n) {
              TextIndex.bm25IndexAppend(spark, fixedBatch, "doc_id", "text",
                smallRoot)
            }
          } finally {
            def rm2(p: java.io.File): Unit = {
              Option(p.listFiles).foreach(_.foreach(rm2)); p.delete(); ()
            }
            rm2(new java.io.File(smallRoot))
          }
          // takedown arm (VERDICT r13 #4): delete 10% of the held docs,
          // measure the serve-time statistic-correction overhead (df/n/
          // len_sum fixed up from the tombstone rows in-plan), then what
          // the vacuum costs to clear it and the clean serve it restores.
          TextIndex.bm25IndexDelete(spark,
            docs.filter(pmod(col("doc_id"), lit(20)) === 2)
              .select(col("doc_id")), "doc_id", root)
          time("bm25idx_search_tombstoned", n) {
            TextIndex.bm25IndexSearch(spark, qs, "query_id", "qtext",
              root, k = 10)
          }
          timeAction("bm25idx_vacuum", n) {
            TextIndex.bm25IndexVacuum(spark, root)
          }
          time("bm25idx_search_vacuumed", n) {
            TextIndex.bm25IndexSearch(spark, qs, "query_id", "qtext",
              root, k = 10)
          }
        } finally {
          only = saved15
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Tombstone-delete A/B (r13): serving through the tombstone
      // anti-join (immediate takedown, zero rewrite) vs after indexVacuum
      // (physical removal, generational rewrite) — the read-cost overhead
      // a pending deletion batch adds, and what the vacuum costs to clear
      // it. 10% of the corpus deleted.
      if (only.contains("imi_index_delete_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-imidelete-$n").toString
        val probesDf = emb.filter(col("vec_id") < 100)
        val saved13 = only
        only = Nil
        try {
          Similarity.imiIndexWrite(emb, "vec_id", "embedding", root,
            groups = groups, groupSize = g, iters = 1, dim = 64)
          def search(): org.apache.spark.sql.DataFrame =
            Similarity.imiIndexSearch(spark, probesDf, "vec_id", "embedding",
              root, k = 10, groupSize = g, nprobeGroups = 4, nprobeCells = 32)
          time(s"imiidx_serve_clean_k$k", n) { search() }
          Similarity.indexDelete(spark,
            emb.filter(pmod(col("vec_id"), lit(10)) === 3)
              .select(col("vec_id")), "vec_id", root)
          time(s"imiidx_serve_tombstoned_k$k", n) { search() }
          timeAction(s"imiidx_vacuum_k$k", n) {
            Similarity.indexVacuum(spark, root)
          }
          time(s"imiidx_serve_vacuumed_k$k", n) { search() }
        } finally {
          only = saved13
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Rebuild A/B (r14): retraining as a generational operation — the
      // remedy imiIndexStats points at when frozen-model appends skew the
      // cells. Build on half the corpus, append the other half under the
      // FROZEN model (the drift mechanism), then measure: the rebuild
      // (retrain on the stored lists, re-assign, atomic root swap) vs a
      // fresh imiIndexWrite on the same union (what the old escape hatch
      // cost, without its path-repointing hole); cell balance and serve
      // cost before/after; recall@10 against brute force before/after.
      if (only.contains("imi_index_rebuild_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-imirebuild-$n").toString
        val freshRoot = java.nio.file.Files
          .createTempDirectory(s"graft-probe-imirebuildf-$n").toString
        val probesDf = emb.filter(col("vec_id") < 100)
        val saved17 = only
        only = Nil
        def balance(tag: String): Unit = {
          val sizes = Similarity.imiIndexStats(spark, root).collect()
            .map(_.getLong(1)).sorted
          if (sizes.nonEmpty) {
            val mx = sizes.last; val med = sizes(sizes.length / 2)
            println(s"""{"op":"imiidx_balance_$tag","n":$n,""" +
              s""""cells":${sizes.length},"max":$mx,"med":$med,""" +
              s""""max_over_med":${if (med == 0) -1.0 else mx.toDouble / med}}""")
          }
        }
        def search(): org.apache.spark.sql.DataFrame =
          Similarity.imiIndexSearch(spark, probesDf, "vec_id", "embedding",
            root, k = 10, groupSize = g, nprobeGroups = 4, nprobeCells = 32)
        def recall(tag: String): Unit = {
          val few = emb.filter(col("vec_id") < 20)
          val approx = Similarity.imiIndexSearch(spark, few, "vec_id",
            "embedding", root, k = 10, groupSize = g, nprobeGroups = 4,
            nprobeCells = 32)
          val exact = Similarity.bruteForceTopK(emb, few, "vec_id",
            "embedding", 10)
          val r = Similarity.recallAudit(approx, exact, 10)
            .agg(avg(col("recall_at_10"))).collect()(0).getDouble(0)
          println(f"""{"op":"imiidx_recall_$tag","n":$n,"recall_at_10":$r%.4f}""")
        }
        try {
          Similarity.imiIndexWrite(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            "vec_id", "embedding", root, groups = groups, groupSize = g,
            iters = 1, dim = 64)
          Similarity.imiIndexAppend(spark,
            emb.filter(pmod(col("vec_id"), lit(2)) === 1),
            "vec_id", "embedding", root, groupSize = g)
          balance("frozen_append")
          recall("frozen_append")
          time(s"imiidx_serve_preRebuild_k$k", n) { search() }
          timeAction(s"imiidx_rebuild_k$k", n) {
            Similarity.imiIndexRebuild(spark, root, iters = 1)
          }
          balance("rebuilt")
          recall("rebuilt")
          time(s"imiidx_serve_postRebuild_k$k", n) { search() }
          timeAction(s"imiidx_freshwrite_union_k$k", n) {
            Similarity.imiIndexWrite(emb, "vec_id", "embedding", freshRoot,
              groups = groups, groupSize = g, iters = 1, dim = 64)
          }
        } finally {
          only = saved17
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
          rm(new java.io.File(freshRoot))
        }
      }
      // Index-build precision A/B (VERDICT r12 #6): the exactUpdate knob
      // threaded through imiIndexWrite — decimal-exact training (the gated
      // default, cross-engine bit determinism) vs double accumulation (the
      // production knob, ≤1 ulp drift on a fraction of components).
      if (only.contains("imi_index_exact_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val saved12 = only
        only = Nil
        val roots = Seq.fill(2)(java.nio.file.Files
          .createTempDirectory(s"graft-probe-imiexact-$n").toString)
        try {
          timeAction(s"imiidx_write_decimal_k$k", n) {
            Similarity.imiIndexWrite(emb, "vec_id", "embedding", roots(0),
              groups = groups, groupSize = g, iters = 2, dim = 64)
          }
          timeAction(s"imiidx_write_double_k$k", n) {
            Similarity.imiIndexWrite(emb, "vec_id", "embedding", roots(1),
              groups = groups, groupSize = g, iters = 2, dim = 64,
              exactUpdate = false)
          }
        } finally {
          only = saved12
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          roots.foreach(r => rm(new java.io.File(r)))
        }
      }
      // Assignment-strategy A/B: the literal-codebook argmin (array of
      // k (dist, cell) structs over per-cell literal arrays — the default
      // under CellLiteralBudget) vs the broadcast-codebook JOIN path
      // (literalBudget=0), bit-identical by the ann_ivf_trained_joinpath
      // gate, timed as full kmeansTrain calls at g=40 over the same cached
      // corpus. Motivated by imi_parts: ~92 s/iter at 640k for a 40-dot
      // argmin (~144 µs/row) is interpreted-evaluation territory, not
      // arithmetic — if the join path wins big here, the literal path's
      // plan is falling out of whole-stage codegen at this width.
      if (only.contains("trainer_assign_ab")) {
        val saved9 = only
        only = Nil
        try {
          timeAction("assign_literal_g40_it2", n) {
            Similarity.kmeansTrain(emb, "embedding", 40, 2, 64).collect()
            ()
          }
          timeAction("assign_joinpath_g40_it2", n) {
            Similarity.kmeansTrain(emb, "embedding", 40, 2, 64,
              literalBudget = 0L).collect()
            ()
          }
        } finally only = saved9
      }
      // Recall@10 vs probe depth (r13): the MEASURED form of the
      // recall/scan-fraction trade every IMI scaladoc asserts — one gate
      // parameterization per nprobeCells, each full trained-IMI search
      // recall-audited against brute force with the recallAudit operator
      // itself (timing includes the brute-force pass and the audit join;
      // the point is the recall column, the wall clock is context).
      if (only.contains("recall_nprobe_ab")) {
        val saved17 = only
        only = Nil
        try {
          val probes = emb.filter(col("vec_id") < 64)
          for (np <- Seq(1, 2, 4)) {
            var mean = 0.0
            timeAction(s"recall_audit_npc$np", n) {
              val imi = Similarity.imiTrainedTopK(emb, probes, "vec_id",
                "embedding", k = 10, groups = 8, groupSize = 8, iters = 2,
                dim = 64, nprobeGroups = 2, nprobeCells = np)
              val brute = Similarity.bruteForceTopK(emb, probes, "vec_id",
                "embedding", 10)
              mean = Similarity.recallAudit(imi, brute, 10)
                .agg(avg(col("recall_at_10"))).head.getDouble(0)
            }
            println(f"""{"op":"recall_nprobe","n":$n,"nprobe_cells":$np,""" +
              f""""scan_groups":"2/8","mean_recall_at_10":$mean%.4f}""")
          }
        } finally only = saved17
      }
      // Global sequence packing A/B (r13): the two-stage distributed prefix
      // sum vs the naive single-ordering window (the whole corpus in ONE
      // window partition — Spark even warns "No Partition Defined"). Same
      // output bit-for-bit (hash-asserted here before timing); the naive
      // shape is the one-line version everyone writes first, and the probe
      // records what it costs once the corpus outgrows one task.
      if (only.contains("pack_ab")) {
        import org.apache.spark.sql.expressions.{Window => W}
        val saved16 = only
        only = Nil
        try {
          // isolate the PREFIX SUM itself: tokenize once to disk, both
          // paths read the same narrow (doc_id, n_tokens) parquet — the
          // timed difference is purely window strategy, not tokenization
          // (timeAction clears caches between ops, so a shared cache
          // can't level the field; a shared file does)
          // shutdown-hook-cleaned workspace (ADVICE r13: a bare
          // createTempDirectory leaked a sizable /tmp dir per probe run)
          val toksPath =
            graft.queries.Streaming.tempWorkspace(s"graft-probe-pack-$n")
          docs.select(col("doc_id"),
              size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
            .filter(col("n_tokens") > 0)
            .write.mode("overwrite").parquet(toksPath)
          def toksD = spark.read.parquet(toksPath)
          def naive = toksD
            .withColumn("start_offset",
              coalesce(sum(col("n_tokens")).over(W.orderBy(col("doc_id"))
                .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
            .select(col("doc_id"), col("n_tokens"), col("start_offset"),
              floor(col("start_offset") / 512).as("first_seq"),
              floor((col("start_offset") + col("n_tokens") - 1) / 512)
                .as("last_seq"))
            .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
          def twoStage =
            graft.queries.Pipeline.packOffsetsOver(toksD, 512)
          def rowHash(df: DataFrame): (Long, String) = {
            // decimal sum: a long sum of 64-bit hashes overflows under ANSI
            val r = df.agg(count(lit(1)),
              coalesce(sum(xxhash64(col("doc_id"), col("n_tokens"),
                col("start_offset"), col("first_seq"), col("last_seq"),
                col("n_seqs")).cast("decimal(38,0)")),
                lit(0).cast("decimal(38,0)"))).head
            (r.getLong(0), r.getDecimal(1).toString)
          }
          val (hTwo, hNaive) = (rowHash(twoStage), rowHash(naive))
          CacheScope.release(spark)
          require(hTwo == hNaive,
            s"pack two-stage $hTwo != naive window $hNaive")
          time("pack_twostage", n) { twoStage }
          time("pack_naive_window", n) { naive }
        } finally only = saved16
      }
      // Deterministic epoch ordering A/B (VERDICT r14 #7): the sharded
      // order (shard from the digest's first 32 bits, only shuffle the
      // per-shard rank window) vs the naive corpus-wide row_number — the
      // pack_ab method applied to the r14 epoch-order operator. Two knobs
      // measured as same-run pairs: corpus growth at fixed nShards (across
      // the probe's two sizes) and nShards growth at fixed corpus (the
      // rows/shard bound — max_task_ms must FALL as shards rise, which is
      // the 100 TB sizing rule: pick nShards so rows/shard fits a task).
      if (only.contains("epoch_order_ab")) {
        import graft.queries.Pipeline
        val saved19 = only
        only = Nil
        try {
          val ids = spark.range(n).select(col("id").as("doc_id"))
          for (shards <- Seq(32, 256, 2048))
            time(s"epoch_order_s$shards", n) {
              Pipeline.epochOrderOver(ids, "doc_id", seed = "7",
                nShards = shards)
            }
          // CONTROL: the one-line version everyone writes first — a global
          // row_number over the digest, serializing the corpus through ONE
          // window task (Spark warns "No Partition Defined")
          time("epoch_order_naive_global", n) {
            import org.apache.spark.sql.expressions.{Window => W}
            val h = md5(concat(lit("epoch:7:"), col("doc_id").cast("string"))
              .cast("binary"))
            ids.select(col("doc_id"), h.as("h"))
              .withColumn("pos", row_number()
                .over(W.orderBy(col("h"), col("doc_id"))).cast("long"))
          }
        } finally only = saved19
      }
      // BPE-encode plan-size A/B (VERDICT r15 #2): the codegen'd
      // broadcast-map expression (graft.functions.BpeCodec — ONE plan node,
      // merge list in the reference array) against the k-chained `replace`
      // fold it replaced, same docs, growing merge count. The fold's cost
      // is ANALYSIS + codegen of a k-deep expression tree, so each arm is
      // timed end-to-end from a FRESH plan (build → analyze → codegen →
      // execute). Synthetic never-firing merges isolate exactly that plan
      // cost (firing behavior is bit-equality-gated in BpeEncodeSpec and
      // the text_bpe_encode oracle). The chain arm stops at 1024 — past it
      // the analysis runaway IS the wall this probe documents; the
      // expression runs flat to 32768 (production tokenizer scale).
      if (only.contains("bpe_encode_ab")) {
        import graft.operators.TextAnalysis
        val saved20 = only
        only = Nil
        try {
          def merges(k: Int) = (1 to k).map(i => (s"q$i", s"z$i"))
          def chainEncode(k: Int): DataFrame = {
            val ms = merges(k)
            val words = regexp_extract_all(lower(col("text")), lit("\\w+"), lit(0))
            val sym0 = when(size(words) === 0, lit(""))
              .otherwise(concat(lit("  "),
                array_join(transform(words, w =>
                  array_join(regexp_extract_all(w, lit("."), lit(0)), "  ")),
                  "  </w>    "),
                lit("  </w>  ")))
            val symN = ms.foldLeft(sym0) { case (c, (l, r)) =>
              replace(c, lit(s" $l  $r "), lit(s" $l$r "))
            }
            val toks = split(trim(col("sym")), " {2,}")
            docs.select(col("doc_id"), symN.as("sym"))
              .select(col("doc_id"),
                when(col("sym") === "", lit(0L))
                  .otherwise(size(toks).cast("long")).as("n_tokens"),
                md5(when(col("sym") === "", lit(""))
                  .otherwise(array_join(toks, " ")).cast("binary")).as("fp"))
          }
          for (k <- Seq(64, 256, 1024, 4096, 32768))
            time(s"bpe_expr_k$k", n) {
              TextAnalysis.bpeEncode(docs, "doc_id", "text", merges(k))
            }
          for (k <- Seq(64, 256, 1024))
            // the chain arm is EXPECTED to die at depth (measured: analyzer
            // StackOverflowError at k=1024) — report the blowup as data
            // instead of crashing the probe run; that failure is the wall
            // the expression removes
            try time(s"bpe_chain_k$k", n) { chainEncode(k) }
            catch {
              case e if scala.util.control.NonFatal(e) ||
                  e.isInstanceOf[StackOverflowError] =>
                println(s"""{"op":"bpe_chain_k$k","n":$n,""" +
                  s""""failed":"${e.getClass.getSimpleName}"}""")
            }
        } finally only = saved20
      }
      // Decimal- vs double-precision centroid update A/B (VERDICT r11 #6):
      // the exact-decimal accumulation exists for the cross-engine bit
      // determinism the GATES need; a production trainer doesn't. Same-run
      // pair at the imi_parts operating point — wall time of each path plus
      // the resulting centroid drift (both paths round to 1e-6, so any
      // difference is a real accumulation-order/precision divergence, not
      // formatting).
      if (only.contains("trainer_precision_ab")) {
        val k = 2560; val g = 64; val groups = k / g
        val saved7 = only
        only = Nil
        try {
          var exact: (Array[Array[Double]], Array[Array[Double]]) = null
          var fast: (Array[Array[Double]], Array[Array[Double]]) = null
          timeAction(s"trainp_decimal_k$k", n) {
            exact = Similarity.imiTrain(emb, "embedding", groups, g, 2, 64)
          }
          timeAction(s"trainp_double_k$k", n) {
            fast = Similarity.imiTrain(emb, "embedding", groups, g, 2, 64,
              exactUpdate = false)
          }
          def drift(a: Array[Array[Double]], b: Array[Array[Double]])
              : (Double, Long) = {
            var mx = 0.0; var nDiff = 0L
            for (c <- a.indices; d <- a(c).indices) {
              val dd = math.abs(a(c)(d) - b(c)(d))
              if (dd > 0) nDiff += 1
              if (dd > mx) mx = dd
            }
            (mx, nDiff)
          }
          val (dc, nc) = drift(exact._1, fast._1)
          val (dfm, nf) = drift(exact._2, fast._2)
          val total = exact._1.length.toLong * 64 + exact._2.length.toLong * 64
          println(f"""{"op":"trainer_precision_drift","n":$n,"k":$k,""" +
            f""""coarse_max_abs":$dc%.2e,"coarse_diff_components":$nc,""" +
            f""""fine_max_abs":$dfm%.2e,"fine_diff_components":$nf,""" +
            f""""total_components":$total}""")
        } finally only = saved7
      }
      // Bounded-model perplexity: the top-V + OOV unigram LM — the model
      // build + scoring join at each n, with the MODEL SIZE printed so the
      // flatness claim (V+1 rows at any corpus size, vs the full-vocab
      // model growing with the data) is recorded evidence
      // probe at topV=256 — BELOW the 400-word synthetic vocabulary, so the
      // cap actually binds (at the production default 512 the probe corpus
      // never exceeds V and "flatness" would be vacuous)
      timeAction("text_perplexity_topv", n) {
        TextAnalysis.unigramNegLogprobTopV(docs, "doc_id", "text", topV = 256)
          .write.format("noop").mode("overwrite").save()
        val vocab = docs
          .select(explode(split(lower(col("text")), " ")).as("t"))
          .agg(countDistinct(col("t"))).first().getLong(0)
        println(s"""{"op":"text_perplexity_topv_model","n":$n,""" +
          s""""vocab":$vocab,"model_rows":${math.min(vocab, 256L) + 1}}""")
      }
      // centroid-audit family: labels synthesized as vec_id mod 10 — the
      // broadcast-centroid join shape should grow linearly in corpus size
      // (labels x dim stays constant)
      val lemb = emb.withColumn("label",
        pmod(col("vec_id"), lit(10L)).cast("int"))
      time("emb_nearest_centroid", n) {
        Similarity.nearestCentroidConfusion(lemb, "vec_id", "label", "embedding")
      }
      time("emb_outliers", n) {
        Similarity.centroidOutlierStats(lemb, "vec_id", "label", "embedding")
      }
      // chunking: shuffle-free tokenize → ordinal explode → slice; growth
      // must be linear in corpus tokens with a ~window/stride fan-out
      // constant and uniform tasks (row-local work only)
      time("text_chunk", n) {
        TextAnalysis.chunk(docs, "doc_id", "text")
      }
      // count-min: counter matrix is ONE map-side-combined aggregate to
      // depth×width cells; growth must be linear in rows with the shuffle
      // volume CONSTANT (64 cells per partition regardless of n)
      time("agg_countmin", n) {
        val keyed = docs.select(pmod(xxhash64(col("doc_id")), lit(1000L)).as("k"))
        val counters = graft.operators.Sketches
          .countMinCounters(keyed, "k", depth = 4, hexChars = 1)
        val heavy = keyed.groupBy(col("k"))
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("k")).limit(20)
        graft.operators.Sketches
          .countMinEstimate(counters, heavy, "k", depth = 4, hexChars = 1)
      }
      // pagerank: 3 unrolled join+aggregate rounds over a bipartite
      // doc↔source graph; ranks stay node-narrow, so growth tracks the
      // EDGE count (distinct doc-source pairs ≈ n) per round
      timeAction("graph_pagerank", n) {
        // the SHARED Pregel core (Graph.pagerankCore) — the probe must
        // measure the shipped algorithm, not a copy that can drift
        // (review finding); lvl honors the diskonly flag like every
        // other probe input
        graft.queries.Graph.pagerankCore(
          docs.select(
            concat(lit("u:"), col("doc_id").cast("string")).as("a"),
            concat(lit("t:"), col("source")).as("b")).distinct(),
          lvl = lvl)
          .write.format("noop").mode("overwrite").save()
      }
      // KV point ops: the reference's Mutable.lookup/insertWith are
      // SINGLE-object IO; this measures the engine's two paths for the
      // same contract — the driver-local single-object read
      // (readExtendedLocal, one pruned bucket-file read) vs the
      // distributed scan (readExtended → collect, a full Spark job) — and
      // the local single-point append. 20 ops each over a populated
      // 128-bucket store; per-op ms is the headline (job scheduling is the
      // distributed path's floor, irrespective of data size)
      timeAction("kv_point_ops", n) {
        import graft.core.Point
        import graft.sources.{MutableKV, TimeStore}
        val root = java.nio.file.Files
          .createTempDirectory("graft-kv-probe").toString
        val ns = TimeStore.namespace(root, "KVPROBE")
        // populate: n/100 extended points through the bulk path
        val m = math.max(n / 100, 1000L)
        import spark.implicits._
        TimeStore.register(spark, ns, MutableKV.MutableBuckets,
          MutableKV.MutableBuckets)
        TimeStore.writePoints(spark, ns,
          spark.range(m).map(i => Point(i * 2 + 1, 1L, 8L,
            java.nio.ByteBuffer.allocate(8).putLong(i).array())))
        def ms(k: Int)(body: => Unit): Double = {
          val t0 = System.nanoTime(); (1 to k).foreach(_ => body)
          (System.nanoTime() - t0) / 1e6 / k
        }
        val addrs = (0 until 20).map(i => (i * (m / 20)) * 2 + 1)
        val localMs = ms(20) {
          addrs.foreach { a =>
            TimeStore.readExtendedLocal(spark, ns, 0L, -1L, Seq(a))
          }
        } / 20
        val distMs = ms(1) {
          addrs.foreach { a =>
            TimeStore.readExtended(spark, ns, 0L, -1L, Seq(a)).collect()
          }
        } / 20
        val writeMs = ms(20) {
          TimeStore.writePointsLocal(spark, ns,
            Seq(Point(99999999L * 2 + 1, 7L, 4L, Array[Byte](1, 2, 3, 4))),
            rolloverBytes = Long.MaxValue)
        }
        // the same one-row append through the DISTRIBUTED write path — the
        // cost model that motivated writePointsLocal, recorded as same-run
        // evidence (VERDICT r8 #7): a Spark job + lease + commit protocol
        // per KV call vs one driver-side file append
        val distWriteMs = ms(5) {
          TimeStore.writePoints(spark, ns,
            spark.createDataset(Seq(
              Point(99999998L * 2 + 1, 7L, 4L, Array[Byte](1, 2, 3, 4)))),
            rolloverBytes = Long.MaxValue)
        }
        // insertWith = lookup + merge + append, end to end (local IO path)
        val insertWithMs = ms(10) {
          MutableKV.insertWith(spark, ns.copy(ns = "KVPROBE2"),
            (nw, old) => nw ++ old, 4242L, Array[Byte](9, 9))
        }
        println(f"""{"op":"kv_point_ops_detail","n":$n,""" +
          f""""local_get_ms":$localMs%.2f,"dist_get_ms":$distMs%.2f,""" +
          f""""local_put_ms":$writeMs%.2f,"dist_put_ms":$distWriteMs%.2f,""" +
          f""""insert_with_ms":$insertWithMs%.2f}""")
        // the probe store is measurement scratch — delete it now rather
        // than leaking a parquet-filled temp dir per invocation
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(new java.io.File(root))
      }
      } // !skewOnly
      // Skew: a fact where 30% of rows hit ONE key (the degenerate zipf
      // head), joined to a keyed dim, aggregated per key. Three plans
      // measured: AQE's runtime skew split (the default defense), manual
      // salting (the static fallback when AQE can't fire, e.g. inside a
      // cached subtree), and AQE disabled entirely (what a hot key does
      // to an unprotected sort-merge join).
      // synthesized inline (pure range arithmetic, identical cost in every
      // variant) — 256n rows, 30% of them on ONE key: the hot reducer of an
      // unprotected shuffle join sorts ~77n rows alone while its 31 peers
      // average ~6n
      val facts = spark.range(n * 256).toDF("row_id")
        .withColumn("key",
          when(pmod(col("row_id"), lit(10L)) < 3, lit(0L))
            .otherwise(pmod(xxhash64(col("row_id")), lit(1000L))))
        .withColumn("v", pmod(xxhash64(col("row_id") + 7), lit(100L)))
      val dim = spark.range(1000).toDF("key")
        .withColumn("weight", pmod(xxhash64(col("key")), lit(7L)) + 1)
      def skewAgg(joined: DataFrame) =
        joined.groupBy(col("key"))
          .agg(sum(col("v") * col("weight")).as("wv"), count(lit(1)).as("cnt"))
      time("join_skew_aqe_default", n) {
        skewAgg(facts.hint("shuffle_merge")
          .join(dim.hint("shuffle_merge"), "key"))
      }
      // AQE's skew split only fires when the hot partition exceeds BOTH
      // skewedPartitionFactor × median AND skewedPartitionThresholdInBytes
      // (default 256 MB) — below that the "protected" plan is identical to
      // the unprotected one. The tuned variant drops the byte floor to
      // what this synthetic fact actually produces.
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // ...and even then the split is SKIPPED here without force: the join
      // feeds a groupBy on the same key, so splitting the hot partition
      // breaks the co-partitioning the aggregate reuses, costs an extra
      // exchange, and AQE declines the trade by default.
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      time("join_skew_aqe_tuned", n) {
        skewAgg(facts.hint("shuffle_merge")
          .join(dim.hint("shuffle_merge"), "key"))
      }
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")

      // Store path: distributed ingest (route -> one shuffle on
      // (kind,epoch,bucket) -> partitioned append + rollover) and the
      // bucket-pruned range scan, at 64n points — the reference's actual
      // workload at a scale the driver fixtures never reach.
      // The block fires when ANY token selects either store op; inside,
      // BOTH ops always run — a pruned read against a store the skipped
      // write left empty is a meaningless measurement (ADVICE r4).
      if (Seq("store_write", "store_read_pruned").exists(only.contains)) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-store-$n").toString
        val ns = TimeStore.namespace(root, "PROBE")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val pts = spark.range(rows).select(
            (pmod(col("id"), lit(1024L)) * 2).as("address"), // even = simple
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved = only
        only = Nil
        try {
          timeAction("store_write", n) {
            TimeStore.writePoints(spark, ns, pts)
          }
          // 4 addresses over a quarter of the time range: bucket pruning
          // keeps <=4 of 64 partitions, the time predicate row-group-skips
          time("store_read_pruned", n) {
            TimeStore.readSimple(spark, ns, 0L, rows * 250L,
              Seq(2L, 40L, 100L, 500L))
          }
        } finally only = saved
      }
      // Compaction path: a streaming ingest appends one file per bucket
      // PER MICRO-BATCH, so the read side degrades on file count — the
      // failure mode the reference never faces (RADOS appends in place)
      // and compact() exists to undo. Measured as a cycle: 32 micro-batch
      // appends -> fragmented pruned read -> compact -> same read again.
      if (only.exists("store_compact".contains(_))) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-compact-$n").toString
        val ns = TimeStore.namespace(root, "FRAG")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val batches = 32
        def batch(b: Int) = spark.range(rows)
          .filter(pmod(col("id"), lit(batches.toLong)) === b)
          .select(
            (pmod(col("id"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved = only
        only = Nil
        try {
          timeAction(s"store_write_${batches}batches", n) {
            (0 until batches).foreach(b =>
              TimeStore.writePoints(spark, ns, batch(b)))
          }
          def read() = TimeStore.readSimple(spark, ns, 0L, rows * 250L,
            Seq(2L, 40L, 100L, 500L))
          time("store_read_fragmented", n)(read())
          timeAction("store_compact", n) {
            TimeStore.compact(spark, ns)
          }
          time("store_read_compacted", n)(read())
        } finally only = saved
      }
      // Store DECADE probe (VERDICT r8 #3): the full store life-cycle at
      // 64n points in ONE run — fragmented multi-batch ingest (pts/s),
      // pruned range read whose cost tracks SELECTED rows not corpus,
      // file-count before/after a generation-swap compact, and the
      // single-object local point-get next to the distributed one — on the
      // post-r8 code (generation swap + local point ops). Run with
      // `store_decade <n>` at n up to 16-64M (1-4B points), diskonly
      // irrelevant (the store lives on disk by construction).
      if (only.contains("store_decade")) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-decade-$n").toString
        val ns = TimeStore.namespace(root, "DECADE")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val batches = 8
        // address derives from id DIV batches, NOT id: batch b holds ids
        // ≡ b (mod 8), and with address = (id % 1024)·2 each batch's
        // addresses were ≡ 2b (mod 16) — landing in a DISJOINT set of 4
        // buckets per batch, so the "fragmented" ingest wrote exactly one
        // file per bucket and compact had nothing to merge (caught when a
        // layout dump showed 32 pre-compact files at 8 batches). Dividing
        // first makes every batch cover all 1024 addresses, i.e. all 32
        // even-residue buckets: 8 genuinely interleaved appends per bucket.
        def batch(b: Int) = spark.range(rows)
          .filter(pmod(col("id"), lit(batches.toLong)) === b)
          .select(
            (pmod(expr(s"id DIV $batches"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved4 = only
        only = Nil
        try {
          val t0 = System.nanoTime()
          timeAction(s"decade_write_${batches}batches", n) {
            (0 until batches).foreach(b =>
              TimeStore.writePoints(spark, ns, batch(b)))
          }
          val writeSec = (System.nanoTime() - t0) / 1e9
          // count the LIVE generation only: compact retains the superseded
          // generation for the lease horizon (reader safety), so a
          // whole-root count right after compact double-counts by design
          def fileCount(): Long = {
            val live = TimeStore.livePointsPath(spark, ns).getOrElse(root)
            val f = new org.apache.hadoop.fs.Path(live)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            val it = f.listFiles(new org.apache.hadoop.fs.Path(live), true)
            var c = 0L
            while (it.hasNext) {
              val st = it.next()
              if (st.getPath.getName.endsWith(".parquet")) c += 1
            }
            c
          }
          val filesBefore = fileCount()
          def read() = TimeStore.readSimple(spark, ns, 0L, rows * 250L,
            Seq(2L, 40L, 100L, 500L))
          val selRows = read().count()
          time("decade_read_fragmented", n)(read())
          // point ops against the billion-point store: one pruned
          // bucket-file read vs a full distributed job
          def msOf(k: Int)(body: => Unit): Double = {
            val p0 = System.nanoTime(); (1 to k).foreach(_ => body)
            (System.nanoTime() - p0) / 1e6 / k
          }
          val localGetMs = msOf(10) {
            TimeStore.readSimpleLocal(spark, ns, 1000L, 100000000L, Seq(2L))
          }
          val distGetMs = msOf(2) {
            TimeStore.readSimple(spark, ns, 1000L, 100000000L, Seq(2L)).collect()
          }
          timeAction("decade_compact", n) {
            TimeStore.compact(spark, ns)
          }
          val filesAfter = fileCount()
          time("decade_read_compacted", n)(read())
          println(f"""{"op":"store_decade_detail","n":$n,"rows":$rows,""" +
            f""""write_pts_per_sec":${rows / writeSec}%.0f,""" +
            f""""selected_rows":$selRows,"files_before":$filesBefore,""" +
            f""""files_after":$filesAfter,"local_get_ms":$localGetMs%.2f,""" +
            f""""dist_get_ms":$distGetMs%.2f}""")
        } finally {
          only = saved4
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Primary-store takedown A/B (r14): pending range tombstones cost an
      // anti-join on the distributed scan and drop the DSv2 SQL scan to
      // its row-based reader; vacuumDeletes folds them in as a
      // zero-shuffle broadcast-anti-join generation rewrite. Each read
      // path measured clean / tombstoned / vacuumed, plus the delete and
      // vacuum themselves. ~10% of addresses over the middle half of time.
      if (only.contains("store_delete_ab")) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-sdel-$n").toString
        val ns = TimeStore.namespace(root, "SDEL")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val pts = spark.range(rows).select(
            (pmod(col("id"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved18 = only
        only = Nil
        try {
          TimeStore.writePoints(spark, ns, pts)
          def read() = TimeStore.readSimple(spark, ns, 0L, rows * 2000L,
            (0 until 64).map(_.toLong * 2))
          time("sdel_read_clean", n)(read())
          spark.read.format("graft").option("root", root)
            .option("ns", "SDEL").load().createOrReplaceTempView("sdel_pts")
          def sqlCount(): Long = spark.sql(
            "SELECT count(*) FROM sdel_pts WHERE kind = 'simple'")
            .collect()(0).getLong(0)
          timeAction("sdel_sql_clean_vectorized", n) { sqlCount(); () }
          // touched-fraction arm (VERDICT r15 #5): a takedown whose
          // addresses all land in ONE of the 64 buckets — plan-time
          // tombstone scoping gives the other 63 buckets' files an empty
          // mask (no address/time extras decode, zero-copy batches), so
          // this scan should price like the clean one
          timeAction("sdel_delete_1bucket", n) {
            TimeStore.deletePoints(spark, ns,
              (0 until 1024 by 64).map(_.toLong * 2), // all placeBucket 0
              rows * 250L, rows * 750L)
          }
          timeAction("sdel_sql_tombstoned_1of64_buckets", n) { sqlCount(); () }
          timeAction("sdel_delete_103addrs", n) {
            TimeStore.deletePoints(spark, ns,
              (0 until 1024 by 10).map(_.toLong * 2),
              rows * 250L, rows * 750L)
          }
          time("sdel_read_tombstoned", n)(read())
          // 103 addresses image to 16 of 64 buckets: 3/4 of the corpus
          // still takes the exactly-clean path under scoping
          timeAction("sdel_sql_tombstoned_16of64_buckets", n) { sqlCount(); () }
          timeAction("sdel_vacuum", n) {
            TimeStore.vacuumDeletes(spark, ns)
          }
          time("sdel_read_vacuumed", n)(read())
          timeAction("sdel_sql_vacuumed_vectorized", n) { sqlCount(); () }
        } finally {
          only = saved18
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Point-get cost vs pending-takedown volume (VERDICT r14 #6 "done"
      // criterion): the local readers share the per-address DeleteMask
      // hash AND a signature-keyed mask cache, so a driver-local point
      // get must stay FLAT as the pending tombstone backlog grows from 0
      // to 10^5 ranges (the first get after a takedown pays one mask
      // rebuild; every subsequent get pays a signature listing + O(ranges
      // for its own address)). 100 gets per arm, real addresses.
      if (only.contains("delmask_ab")) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-dmask-$n").toString
        val ns = TimeStore.namespace(root, "DMASK")
        TimeStore.register(spark, ns, 64, 64)
        val pts = spark.range(n).select(
            (pmod(col("id"), lit(100000L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved20 = only
        only = Nil
        try {
          TimeStore.writePoints(spark, ns, pts)
          def get100(): Unit = (0 until 100).foreach { i =>
            TimeStore.readSimpleLocal(spark, ns, 0L, -1L,
              Seq((i * 997L % 100000L) * 2))
          }
          timeAction("dmask_pointget_0pending", n) { get100() }
          // tombstones over addresses OUTSIDE the data range: they grow
          // the backlog without changing any get's result
          TimeStore.deletePoints(spark, ns,
            (100000L until 100100L).map(_ * 2), 0L, 1L)
          timeAction("dmask_pointget_100pending", n) { get100() }
          TimeStore.deletePoints(spark, ns,
            (200000L until 300000L).map(_ * 2), 0L, 1L)
          timeAction("dmask_pointget_100kpending", n) { get100() }
        } finally {
          only = saved20
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Runtime-filter (dynamic pruning) join A/B (r15): a selective dim
      // join against the graft SQL table with SupportsRuntimeFiltering —
      // the dim's 8-address image should prune the fact scan to 8 of 1024
      // addresses' buckets at RUNTIME. Same plan measured with Spark's
      // dynamic pruning ON (first — cold, conservative for the claim)
      // and OFF (the full-scan join the r14 scan always paid).
      if (only.contains("dpp_ab")) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-dpp-$n").toString
        val ns = TimeStore.namespace(root, "DPP")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val pts = spark.range(rows).select(
            (pmod(col("id"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved21 = only
        only = Nil
        try {
          TimeStore.writePoints(spark, ns, pts)
          spark.range(2048).select(col("id").as("address"),
              pmod(col("id"), lit(256L)).as("grp"))
            .write.mode("overwrite").parquet(s"$root/dim")
          val fact = spark.read.format("graft")
            .option("root", root).option("ns", "DPP").load()
            .where("kind = 'simple'")
          def joined() = fact.join(
            spark.read.parquet(s"$root/dim").where("grp = 2"), "address")
          val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
          // restore whatever the session ran with, not a hardcoded "true" —
          // a session that disabled DPP must leave the probe with it still
          // disabled (ADVICE r15)
          val savedDpp = spark.conf.getOption(key)
          try {
            // one untimed warmup so neither arm pays first-query JIT
            spark.conf.set(key, "false")
            joined().count()
            spark.conf.set(key, "true")
            timeAction("dpp_join_runtime_pruned", n) { joined().count(); () }
            spark.conf.set(key, "false")
            timeAction("dpp_join_full_scan", n) { joined().count(); () }
          } finally savedDpp match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
        } finally {
          only = saved21
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // Compact-path A/B (VERDICT r11 #3): the r12 binary row-group
      // concatenation ([[graft.sources.ParquetConcat]], what compact() now
      // runs) against the r11 Group-API row decode/re-encode loop it
      // replaced, SAME RUN over the SAME fragmented generation. The real
      // compact runs FIRST (its reads warm the page cache for the row
      // loop, biasing the comparison AGAINST the new path — conservative);
      // the row loop then merges the superseded-but-retained generation
      // into a throwaway directory through the exact shipped-in-r11 code
      // shape (one task per partition dir, ExampleParquetWriter under the
      // store's 4-field schema). Run with `compact_ab <n>`; n=16M is 1.02B
      // points.
      if (only.contains("compact_ab")) {
        import graft.sources.TimeStore
        import graft.core.Point
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-cab-$n").toString
        val ns = TimeStore.namespace(root, "CAB")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val batches = 8
        def batch(b: Int) = spark.range(rows)
          .filter(pmod(col("id"), lit(batches.toLong)) === b)
          .select(
            (pmod(expr(s"id DIV $batches"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved8 = only
        only = Nil
        try {
          timeAction(s"cab_write_${batches}batches", n) {
            (0 until batches).foreach(b =>
              TimeStore.writePoints(spark, ns, batch(b)))
          }
          val gen0 = TimeStore.livePointsPath(spark, ns).get
          val sconf = new graft.sources.SerializableHadoopConf(
            spark.sparkContext.hadoopConfiguration)
          val gp = new org.apache.hadoop.fs.Path(gen0)
          val hfs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val leaves = scala.collection.mutable.SortedSet.empty[String]
          val walk0 = hfs.listFiles(gp, true)
          while (walk0.hasNext) {
            val st = walk0.next()
            val nm = st.getPath.getName
            if (st.isFile && !nm.startsWith("_") && !nm.startsWith(".")) {
              val rel = st.getPath.getParent.toString
                .stripPrefix(gen0).stripPrefix("/")
              if (rel.nonEmpty) leaves += rel
            }
          }
          val leafSeq = leaves.toSeq
          def mergeAll(outRoot: String, useAppend: Boolean): Unit =
            spark.sparkContext.parallelize(leafSeq, leafSeq.size)
              .foreach { rel =>
                probeMerge(sconf.conf,
                  new org.apache.hadoop.fs.Path(s"$gen0/$rel"),
                  new org.apache.hadoop.fs.Path(
                    s"$outRoot/$rel/compacted-0.parquet"), useAppend)
              }
          def rmOut(outRoot: String): Unit =
            hfs.delete(new org.apache.hadoop.fs.Path(outRoot), true)
          // SYMMETRIC probe-local merges over the SAME immutable generation,
          // alternated twice. At ~24·n bytes the merge is an OS-WRITEBACK
          // problem on a single-disk box: a pass that starts while the
          // previous pass's dirty pages flush gets throttled by the flusher,
          // not by its own work (the first cut of this probe recorded 53-100
          // s swings that were pure writeback-queue order). Discipline:
          // drain the queue (sync) before each timed region and INCLUDE the
          // pass's own sync inside it — every number is then "merge + its
          // full disk cost" from a drained start, comparable across shapes.
          def drain(): Unit = {
            val p = new ProcessBuilder("sync").start()
            p.waitFor(); ()
          }
          def timed(body: => Unit): Double = {
            val t0 = System.nanoTime(); body; drain()
            (System.nanoTime() - t0) / 1e9
          }
          val tRow = new scala.collection.mutable.ArrayBuffer[Double]
          val tApp = new scala.collection.mutable.ArrayBuffer[Double]
          for (pass <- 1 to 2) {
            drain()
            tRow += timed(mergeAll(s"$root/out-row-$pass", useAppend = false))
            drain()
            tApp += timed(mergeAll(s"$root/out-app-$pass", useAppend = true))
            if (pass == 1) { rmOut(s"$root/out-row-1"); rmOut(s"$root/out-app-1") }
          }
          // parity: both merge shapes carry the full corpus
          val rowRows = spark.read
            .parquet(s"$root/out-row-2/kind=simple/*/*").count()
          val appRows = spark.read
            .parquet(s"$root/out-app-2/kind=simple/*/*").count()
          rmOut(s"$root/out-row-2"); rmOut(s"$root/out-app-2")
          // and the real protocol compact (generation swap + retirement),
          // which runs the same concatenation internally — same drained
          // start, same sync-inclusive timing
          drain()
          val tProto = timed(TimeStore.compact(spark, ns))
          def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ",", "]")
          println(f"""{"op":"compact_ab_detail","n":$n,"rows":$rows,""" +
            f""""rowloop_sec":${arr(tRow.toSeq)},""" +
            f""""appendfile_sec":${arr(tApp.toSeq)},""" +
            f""""protocol_compact_sec":$tProto%.1f,""" +
            f""""rowloop_rows":$rowRows,"appendfile_rows":$appRows}""")
        } finally {
          only = saved8
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      // DSv2 reader A/B (VERDICT r10 #4): the SQL-table scan
      // (format("graft") — single-footer-open direct ColumnReader decode +
      // row-group stats skipping) against Spark's VECTORIZED parquet reader
      // over the IDENTICAL pruned file set with the identical row
      // predicates. Quantifies what delegating split reading to the
      // vectorized reader would buy; the store gates pin both paths to the
      // same rows.
      if (only.contains("dsv2_ab")) {
        import graft.sources.{GraftScan, TimeStore}
        import graft.core.Point
        import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        import spark.implicits._
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-dsv2ab-$n").toString
        val ns = TimeStore.namespace(root, "AB")
        TimeStore.register(spark, ns, 64, 64)
        val rows = n * 64
        val pts = spark.range(rows).select(
            (pmod(col("id"), lit(1024L)) * 2).as("address"),
            (col("id") * 1000L).as("time"),
            xxhash64(col("id")).as("payload"),
            lit(null).cast("binary").as("value"))
          .as[Point]
        val saved5 = only
        only = Nil
        try {
          TimeStore.writePoints(spark, ns, pts)
          val hi = rows * 250L
          val pred = s"address IN (2, 40, 100, 500) AND time BETWEEN 0 AND $hi"
          def gdf = spark.read.format("graft")
            .option("root", root).option("ns", "AB").load()
            .where(s"kind = 'simple' AND $pred")
            .select("address", "time", "payload")
          // the identical pruned file set, read by Spark's vectorized reader
          val scan = gdf.queryExecution.executedPlan
            .collect { case b: BatchScanExec => b.scan }.head
            .asInstanceOf[GraftScan]
          val paths = scan.plannedFiles.map(_.path)
          def rdf = spark.read.parquet(paths: _*)
            .where(pred).select("address", "time", "payload")
          val (gn, rn) = (gdf.count(), rdf.count())
          require(gn == rn, s"A/B row mismatch: graft=$gn raw=$rn")
          println(s"""{"op":"dsv2_ab_setup","n":$n,"files":${paths.length},"sel_rows":$gn}""")
          time("dsv2_graft_scan", n)(gdf)
          time("dsv2_vectorized_scan", n)(rdf)
          // second pass, order flipped (page-cache fairness)
          time("dsv2_vectorized_scan2", n)(rdf)
          time("dsv2_graft_scan2", n)(gdf)
        } finally {
          only = saved5
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(root))
        }
      }
      time("join_skew_salted", n) {
        skewAgg(SkewOps.saltedJoin(
          facts.hint("shuffle_merge"), dim, "key", "row_id", 16))
      }
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try time("join_skew_unprotected", n) {
        skewAgg(facts.hint("shuffle_merge")
          .join(dim.hint("shuffle_merge"), "key"))
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      CacheScope.release(spark)
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** The `compact_ab` probe's two merge shapes over one partition dir:
    * useAppend=true runs the binary row-group concatenation
    * `TimeStore.compact` ships ([[graft.sources.ParquetConcat]]),
    * useAppend=false the r11 Group-API row decode/re-encode it replaced —
    * both driven probe-locally so the A/B runs symmetric passes over the
    * same immutable generation. */
  private def probeMerge(conf: org.apache.hadoop.conf.Configuration,
                         srcDir: org.apache.hadoop.fs.Path,
                         dstFile: org.apache.hadoop.fs.Path,
                         useAppend: Boolean): Unit =
    if (useAppend)
      require(graft.sources.ParquetConcat.mergeSameSchema(conf,
        graft.sources.ParquetConcat.dataFiles(conf, srcDir), dstFile),
        s"mixed physical schemas under $srcDir")
    else rowLoopMerge(conf, srcDir, dstFile)

  /** The r11 compact merge path for the `compact_ab` probe: Group-API
    * row-at-a-time decode of every source file re-encoded through an
    * ExampleParquetWriter under the store's 4-field schema — the code shape
    * the binary row-group concatenation replaced in r12. Files open
    * through [[graft.sources.ParquetOpen]] like every other parquet read,
    * so the A/B compares merge shapes, not per-open costs. */
  private def rowLoopMerge(conf: org.apache.hadoop.conf.Configuration,
                           srcDir: org.apache.hadoop.fs.Path,
                           dstFile: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 address;
        |  required int64 time;
        |  required int64 payload;
        |  optional binary value;
        |}""".stripMargin)
    val f = srcDir.getFileSystem(conf)
    val files = graft.sources.ParquetConcat.dataFiles(conf, srcDir)
    if (files.isEmpty) return
    f.mkdirs(dstFile.getParent)
    if (files.sizeIs == 1) {
      org.apache.hadoop.fs.FileUtil.copy(
        f, files.head.getPath, f, dstFile, false, true, conf)
      return
    }
    val writer = ExampleParquetWriter.builder(dstFile)
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try files.foreach { st =>
      graft.sources.ParquetOpen.foreachGroup(conf, st) { g =>
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
}
