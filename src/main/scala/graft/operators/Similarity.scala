package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`): brute-force
  * cosine top-k as the exact baseline, and random-hyperplane LSH bucketing
  * as the scale path.
  *
  * Scale design: brute force is a broadcast nested loop — exact, and the
  * right choice when the probe set is small (the corpus streams once, no
  * shuffle). The LSH variant buckets both sides by signature so each probe
  * only scores its bucket — recall trades against fan-out via bands. The
  * dot product is a codegen'd `aggregate(zip_with(...))` fold over the
  * arrays in index order (deterministic, matches the oracle's list fold);
  * no UDFs, no MLlib dependency.
  *
  * The persisted ANN indexes (`pqIndex*`, `imiIndex*`, `imiPqIndex*`)
  * keep their tables under the one lifecycle of [[IndexTables]]: build,
  * append, compaction, tombstones and vacuum run there.
  */
object Similarity {

  /** Codegen'd dot product in index order — bit-identical to the oracle's
    * sequential list fold (see [[graft.functions.DotProductD]]; the
    * higher-order `aggregate(zip_with(...))` form evaluates interpreted and
    * is ~50× slower in the pairwise hot path). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotD(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k cosine neighbors for each probe row. `probes` and `corpus`
    * share the schema (idCol, vecCol); probes are broadcast. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), asDouble(col(vecCol)).as("cv"))
    val p = probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("pv"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("cos_sim"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes: plane p, dim d
    * component derived from a seeded hash, in [-1, 1). Pure column
    * arithmetic — and exposed so the DuckDB oracle twins can embed the
    * SAME plane constants as SQL literals (Double.toString round-trips
    * exactly), making every LSH query independently recomputable. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((p, d, 42))
    h.toDouble / Int.MaxValue
  }

  /** Signature: one bit per hyperplane = sign of dot(vec, plane), packed by
    * the [[graft.functions.LshSigBits]] kernel — the plane matrix rides the
    * expression's reference array (r16: the planes×dim literal-term form
    * compiled a unique whole-stage class per (planes, dim) site; the kernel
    * plan is O(1) in both, same ascending dot fold, same `>= 0.0`
    * primitive comparison, so signatures are bit-identical). */
  def lshSignature(vec: Column, planes: Int, dim: Int): Column =
    graft.functions.QuantOps.lshSig(vec,
      Array.tabulate(planes, dim)(planeComponent))

  /** LSH-bucketed ANN: probes only score corpus rows sharing any band of
    * the signature. Sub-linear scan at the cost of recall (tested ~1.0 at
    * 16 planes / 4 bands on the fixture).
    *
    * Hot-bucket guard on the CORPUS side (same defense as every other band
    * join here — [[lshBandedPairs]], [[Dedup.minhashLshPairs]],
    * [[Dedup.simhashPairs]]): a degenerate band value shared by a dense
    * embedding cluster would inflate every probe landing in it; corpus
    * buckets above `maxBucket` are excluded deterministically, so the
    * DuckDB twin mirrors the cap. Probes are a bounded set and stay
    * uncapped. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 16, bands: Int = 8,
              dim: Int = 64,
              maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val r = planes / bands
    // NARROW band buckets (id, band, bh) — the signature projects in its
    // own eagerly-materialized stage and the dim-wide vectors never enter
    // the bucket join or the cap window (see [[lshBandedPairs]]: caching or
    // shuffling the array column was the measured 10× of the whole
    // operator); vectors re-join per UNIQUE candidate for scoring.
    def buckets(df: DataFrame, id: String): DataFrame = {
      val sig = graft.CacheScope.cache(
        df.select(col(idCol).as(id),
          lshSignature(asDouble(col(vecCol)), planes, dim).as("sig")))
      sig.count()
      sig.select(col(id), posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1))): _*)))
        .toDF(id, "band", "bh")
    }
    val c = Dedup.capHotBuckets(buckets(corpus, "nbr_id"), maxBucket)
    val p = buckets(probes, "query_id")
    val cand = c.join(p, Seq("band", "bh"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"))
      .distinct() // a pair can share several bands
    val cv = corpus.select(col(idCol).as("__ci"), asDouble(col(vecCol)).as("cv"))
    val pv = probes.select(col(idCol).as("__pi"), asDouble(col(vecCol)).as("pv"))
    val scored = cand
      .join(cv, col("nbr_id") === col("__ci"))
      .join(pv, col("query_id") === col("__pi"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("cos_sim"))
  }

  /** Deterministic pseudo-random IVF coarse-quantizer component: centroid
    * c, dim d, in [-1, 1) — a different hash seed than [[planeComponent]]
    * so cells and LSH bands are uncorrelated. Literals, so the DuckDB twin
    * embeds the same constants (see `LshOracleSql.ivfTopK`). */
  private[graft] def centroidComponent(c: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((c, d, 7))
    h.toDouble / Int.MaxValue
  }

  /** Literal budget for embedding a centroid matrix into the expression
    * tree: up to this many k×dim terms the assignment stays a codegen'd
    * literal projection (row-local, shuffle-free — the fastest shape, and
    * the one the DuckDB twins can recompute exactly). Beyond it the plan
    * itself becomes the bottleneck — expression-tree size grows O(k·dim),
    * analysis/codegen blow past JIT method limits long before the
    * production cell counts (k ≈ √n is 10⁴-10⁵ cells) — so assignment
    * switches to the broadcast exploded-centroid JOIN, whose plan is O(1)
    * in k (the codebook is DATA, not code). 8192 ≈ 128 cells × 64 dims
    * stays comfortably under Janino's 64 KB method ceiling. */
  private[graft] val CellLiteralBudget = 8192L

  /** Row-count ceiling for the literal-codebook assignment PLAN (the
    * companion of [[CellLiteralBudget]], which caps the plan's SIZE): the
    * k-struct literal argmin compiles into generated methods large enough
    * to fall out of JIT / whole-stage codegen at a few thousand terms, and
    * on a big corpus that evaluates per row at interpreter speed — the
    * r12 probe measured the g=40 literal argmin at **25× slower** than the
    * broadcast-codebook join on 640k rows (265.8 vs 10.4 s full-trainer,
    * SCALE.md trainer_assign_ab) for BIT-IDENTICAL output. The join path
    * carries a small fixed cost (cache + count + broadcast + exchange)
    * that only amortizes past ~10⁴ rows, so below this ceiling the literal
    * plan stays (the fixture gates' sub-second latency), above it the join
    * strategy takes over regardless of k·dim. */
  private[graft] val LiteralAssignMaxRows = 16384L

  /** One corpus row count computed AT MOST ONCE per entry-point invocation
    * and shared across every strategy-decision site (ADVICE r12: each
    * decision used to run its own count() job — one imiIndexWrite paid
    * three extra corpus scans, and every composed trainer invocation paid
    * one per assign entry point). Lazy: an entry whose k·dim already
    * exceeds the literal budget never pays the count at all. Callers that
    * know the cardinality (a catalog stat, an already-materialized count)
    * seed it via `known`. */
  private[graft] final class CorpusRows(corpus: => DataFrame,
                                        known: Option[Long] = None) {
    private var seeded: Option[Long] = known
    /** Record an externally-obtained count (e.g. a cache materialization's
      * return value) so later decision sites reuse it. No-op once known. */
    def seed(m: Long): Unit = if (seeded.isEmpty) seeded = Some(m)
    lazy val n: Long = seeded.getOrElse(corpus.count())
  }

  /** One (shared, lazy) count decides literal vs broadcast-join assignment;
    * the two strategies are bit-identical by construction and HASH-GATED
    * against the same oracle (`ann_ivf_trained_joinpath`), so this is
    * purely a physical-plan choice. */
  private def literalAssignFits(k: Long, dim: Int, literalBudget: Long,
                                rows: CorpusRows): Boolean =
    k * dim <= literalBudget && rows.n <= LiteralAssignMaxRows

  /** Ascending-index self-dot — the same fold order as the codegen'd [[dot]]
    * kernel, so a driver-side constant is bit-identical to the in-plan one. */
  private def selfDot(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** The centroid matrix as broadcast-side MODEL rows (cell, cent, cc) —
    * one row per cell, the centroid as an array column, `cc` its self-dot.
    * The large-k assignment cross-joins vectors against these rows and
    * scores with the SAME codegen'd [[dot]] kernel the literal path runs on
    * embedded constants: identical doubles, identical fold order — the two
    * strategies are bit-identical, only the plan representation differs
    * (k×dim literals vs one broadcast of k rows). n·k scored rows, each a
    * dim-length primitive loop; the per-id argmax collapses map-side (the
    * cross-join emits each row's k candidates consecutively in-partition),
    * so the exchange carries ~n rows. A codebook past driver memory would
    * live as a parquet table and broadcast identically. */
  private[graft] def centroidRows(spark: org.apache.spark.sql.SparkSession,
                                  cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.indices.map(c => (c, cents(c).toSeq, selfDot(cents(c))))
      .toDF("cell", "cent", "cc")
  }

  /** IVF (inverted-file) ANN — the classic coarse-quantize-then-probe scale
    * path: every corpus vector is assigned to its best cell (rank-1 score,
    * ties to the lowest cell), each probe scans only its top-`nprobe`
    * cells. Scan cost drops to ~nprobe/cells of the corpus; recall trades
    * against nprobe (spec-measured vs brute force on the fixture; the
    * near-uniform fixture caps ANY quantizer's recall near its scan
    * fraction — on clustered real corpora neighbors concentrate into few
    * cells and recall rises at the same nprobe).
    *
    * The "training-free" quantizer uses deterministic pseudo-random
    * centroids (literals) rather than k-means — deliberately: the cell
    * assignment becomes a pure function both engines compute identically,
    * so the DuckDB twin recomputes the whole index + probe pipeline and
    * the gate hash-checks it end-to-end (misses included), exactly like
    * the LSH twins. At 100 TB the same plan holds with trained centroids
    * broadcast as literals. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int, cells: Int = 16, nprobe: Int = 4,
              dim: Int = 64): DataFrame =
    ivfTopKWith(corpus, probes, idCol, vecCol, k, nprobe,
      Array.tabulate(cells, dim)(centroidComponent))

  /** IVF search against an arbitrary centroid matrix (the trained-codebook
    * path of [[ivfTopK]] — same probe fan-out, same exact-cosine re-rank).
    *
    * Assignment strategy is sized by [[CellLiteralBudget]]: at demo/small k
    * the centroids embed as codegen'd literals (row-local, twin-exact);
    * past the budget both sides route through the broadcast-codebook
    * cross join ([[centroidRows]]), whose plan size is constant in k —
    * the production shape at k ≈ √n cell counts, where a literal
    * expression tree would explode analysis and JIT compilation. Both
    * strategies run the same [[dot]] kernel on the same doubles, so their
    * results are bit-identical (spec-checked); BOTH corpus and probe rows
    * keep row-local assignment under duplicate ids in both strategies
    * (each join-path side ranks on a pinned per-row id). Duplicate PROBE
    * ids still pool into one ranked result per query_id at the FINAL rank
    * window — that last-stage pooling is the declared semantics across
    * this whole top-k family. */
  def ivfTopKWith(corpus: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int,
                  cents: Array[Array[Double]],
                  literalBudget: Long = CellLiteralBudget): DataFrame = {
    val cells = cents.length
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val c = corpus.select(col(idCol).as("nbr_id"), asDouble(col(vecCol)).as("cv"))
    val p = probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("pv"))
    val (corpusCells, probeCells) = if (cells.toLong * dim <= literalBudget) {
      // Corpus assignment is ROW-LOCAL (no explode, no window, no shuffle):
      // cell = argmax dot, ties to the lowest cell — the
      // [[graft.functions.ArgMaxDotCells]] kernel (r16): the centroid
      // matrix rides the reference array, so the plan is O(1) in k·dim and
      // the generated class is shared across every trained-codebook
      // invocation (the literal-term form recompiled per codebook — see
      // QuantOps). Same ascending dot fold as the literal terms, so
      // assignments are bit-identical.
      val cc = c.withColumn("cell",
          graft.functions.QuantOps.argMaxDot(col("cv"), cents))
        .select(col("nbr_id"), col("cv"), col("cell"))
      // Probe top-nprobe cells by (score desc, cell asc) — the
      // [[graft.functions.TopCellsByDot]] kernel reproduces the
      // sort_array(struct(−score, cell)) ordering (Double.compare on the
      // negated score, then cell) bit for bit. Row-local; small side.
      val pc = p.select(col("query_id"), col("pv"),
        explode(graft.functions.QuantOps.topCellsByDot(col("pv"), cents,
          nprobe)).as("cell"))
      (cc, pc)
    } else {
      val centRows = centroidRows(corpus.sparkSession, cents)
      // argmax dot per corpus row, ties to the lowest cell (max_by on
      // (score, -cell) structs). The scored stream and the aggregate are
      // NARROW — (row id, cell, score) only; the 64-double vector
      // re-attaches from the cached frame via the id join. Carrying the
      // vector through the n·k cross-join rows and the aggregate's group
      // key was a measured 5× cliff at n=160k (SCALE.md round-6: payload
      // width in the hot stream beats the re-join long before 100 TB).
      // The grouping key is a PINNED per-row id, not idCol — grouping on a
      // non-unique idCol would pool duplicate ids' scores into one argmax
      // and silently diverge from the literal path's row-local semantics
      // (the trainer's __vid guard, applied to search). The cache pins the
      // ids AND feeds both consumers from one materialization.
      val crid = graft.CacheScope.cache(
        c.withColumn("__rid", monotonically_increasing_id()))
      crid.count()
      val assigned = crid.crossJoin(broadcast(centRows))
        .select(col("__rid"), col("cell"),
          dot(col("cv"), col("cent")).as("score"))
        .groupBy(col("__rid"))
        .agg(max_by(col("cell"),
          struct(col("score"), (-col("cell")).as("nc"))).as("cell"))
      val cc = crid.join(assigned, Seq("__rid"))
        .select(col("nbr_id"), col("cv"), col("cell"))
      // Rank row-locally per PINNED probe row (ADVICE r6): a query_id
      // window would pool duplicate probe ids' k scores into one ranking —
      // the same cell could win twice (fewer distinct cells probed) and
      // (score, cell) ties would carry an arbitrary duplicate's pv into
      // the exact re-rank. Per-__pid partitions hold exactly one probe
      // row's k candidates, matching the literal path's row-local slice.
      val wv = Window.partitionBy(col("__pid"))
        .orderBy(col("score").desc, col("cell"))
      val pc = p.withColumn("__pid", monotonically_increasing_id())
        .crossJoin(broadcast(centRows))
        .select(col("__pid"), col("query_id"), col("pv"), col("cell"),
          dot(col("pv"), col("cent")).as("score"))
        .withColumn("__r", row_number().over(wv))
        .filter(col("__r") <= nprobe)
        .select(col("query_id"), col("pv"), col("cell"))
      (cc, pc)
    }
    val scored = corpusCells.join(probeCells, Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    // no distinct: every corpus vector lives in exactly ONE cell, so a
    // (probe, corpus) pair meets at most once
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings with a coarse quantizer and comparing pairs
    * ONLY within a cluster — never corpus×corpus. A row is a semantic
    * duplicate iff ANY lower-id row in the same cell has cosine ≥
    * `threshold` — dominated-by-any-earlier-row semantics, a deterministic
    * SUPERSET of sequential keep-first greedy: in a chain a~b, b~c, a!~c
    * this removes both b and c (greedy would keep c, since b no longer
    * survives to dominate it). The paper's keep-one-per-ε-ball picks an
    * arbitrary survivor; this rule pins the survivor set deterministically
    * and errs toward removing more, and the DuckDB twin recomputes the
    * identical rule (ADVICE r7).
    *
    * Scale shape: assignment is the same row-local literal-codebook argmax
    * as [[ivfTopKWith]]'s literal path (trained centroids ride the same
    * broadcast-join form past [[CellLiteralBudget]]); the pairwise stage
    * keys the self-join on the cell, so its cost is Σ cell² — bounded by
    * choosing the cell count k ≈ n / target-cell-size as the paper does
    * (11k cells at 1.3B docs), with the same deterministic hot-cell cap as
    * every band join here as the backstop for a degenerate quantizer:
    * over-`maxCell` cells skip pairing (their rows stay, marked kept) and
    * the DuckDB twin mirrors the cap, so the gate stays a full-pipeline
    * hash check even when it fires. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, cells: Int = 16, dim: Int = 64,
                    maxCell: Int = Dedup.DefaultMaxBucket): DataFrame =
    semanticDedupWith(corpus, idCol, vecCol, threshold,
      Array.tabulate(cells, dim)(centroidComponent), maxCell)

  /** [[semanticDedup]] against an arbitrary (e.g. trained) centroid
    * matrix. Assignment strategy is sized by [[CellLiteralBudget]] exactly
    * like [[ivfTopKWith]]: literal-codebook codegen projection at small k,
    * broadcast-codebook cross join (narrow (rid, cell, score) stream,
    * plan O(1) in k) past it — the production shape at the paper's
    * k ≈ n / target-cell-size cell counts. */
  def semanticDedupWith(corpus: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, cents: Array[Array[Double]],
                        maxCell: Int = Dedup.DefaultMaxBucket,
                        literalBudget: Long = CellLiteralBudget,
                        nRows: Option[Long] = None): DataFrame =
    semanticPairTail(
      semanticAssign(corpus, idCol, vecCol, cents, literalBudget,
        new CorpusRows(corpus, nRows)),
      threshold, maxCell)

  /** Rank-1 cell assignment shared by the SemDeDup variants: literal
    * codegen argmax at small k, broadcast-codebook join past
    * `literalBudget` (see [[semanticDedupWith]]). */
  private def semanticAssign(corpus: DataFrame, idCol: String,
                             vecCol: String, cents: Array[Array[Double]],
                             literalBudget: Long,
                             rows: CorpusRows): DataFrame = {
    val cells = cents.length
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val assigned0 =
      if (literalAssignFits(cells.toLong, dim, literalBudget, rows))
        // argmax dot, ties → lowest cell, via the reference-object kernel
        // (r16; bit-identical to the former array_position(max) literal form)
        v.withColumn("cell",
            graft.functions.QuantOps.argMaxDot(col("v"), cents))
          .select(col("vec_id"), col("cell"), col("v"))
      else {
        val crid = graft.CacheScope.cache(
          v.withColumn("__rid", monotonically_increasing_id()))
        crid.count()
        val a = crid.crossJoin(broadcast(centroidRows(corpus.sparkSession, cents)))
          .select(col("__rid"), col("cell"), dot(col("v"), col("cent")).as("score"))
          .groupBy(col("__rid"))
          .agg(max_by(col("cell"),
            struct(col("score"), (-col("cell")).as("nc"))).as("cell"))
        crid.join(a, Seq("__rid"))
          .select(col("vec_id"), col("cell"), col("v"))
      }
    assigned0
  }

  /** Shared SemDeDup pairing tail over an assigned (vec_id, cell, v)
    * frame: hot-cell cap, cell-scoped keep-first pairing, per-vector
    * verdict. Norms materialize WITH the cache so the pair stage runs ONE
    * dot per pair instead of three (dot(a,b)/(na·nb) — the same values
    * and fold order as recomputing the norms per pair, so the DuckDB
    * twins are unchanged; measured 83 s → 25 s at 320k/640 cells). */
  private def semanticPairTail(assigned0: DataFrame, threshold: Double,
                               maxCell: Int): DataFrame = {
    val assigned = graft.CacheScope.cache(
      assigned0.select(col("vec_id"), col("cell"), col("v"),
        norm(col("v")).as("n")))
    assigned.count() // one materialization feeds pairing twice + the output
    // Key-narrow census (VERDICT r7 #3): sizing cells via
    // count().over(partitionBy(cell)) would push the WIDE cached frame
    // (64-dim vectors in the payload) through an exchange just to count;
    // the narrow groupBy aggregate shuffles only (cell, count) — at most
    // one row per cell, k rows total — and the under-cap cell set
    // broadcasts back. Cap semantics identical (over-`maxCell` cells skip
    // pairing, their rows stay in the verdict as kept).
    val okCells = assigned.groupBy(col("cell")).count()
      .filter(col("count") <= maxCell)
      .select(col("cell"))
    val inPlay = assigned.join(broadcast(okCells), Seq("cell"))
    val dup = inPlay.select(col("cell"), col("vec_id").as("a_id"),
        col("v").as("av"), col("n").as("an"))
      .join(inPlay.select(col("cell"), col("vec_id").as("b_id"),
        col("v").as("bv"), col("n").as("bn")), "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
        >= threshold)
      .select(col("b_id").as("vec_id"))
      .distinct()
    assigned.join(dup.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** Embedding near-dup pairs: all pairs with cosine ≥ threshold, or the
    * global top-n pairs when the corpus has no high-sim pairs.
    *
    * O(n²) BroadcastNestedLoopJoin — the exact small-scale baseline ONLY
    * (the `dedup_ngram_jaccard` role); the declared scale path is
    * [[lshBandedPairs]]. */
  def cosinePairsTopN(corpus: DataFrame, idCol: String, vecCol: String,
                      n: Int): DataFrame = {
    val a = corpus.select(col(idCol).as("i"), asDouble(col(vecCol)).as("va"))
    val b = corpus.select(col(idCol).as("j"), asDouble(col(vecCol)).as("vb"))
    a.join(b, col("i") < col("j"))
      .select(col("i"), col("j"), round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("i"), col("j"))
      .limit(n)
  }

  /** Embedding near-dup via LSH banding — the 100 TB shape: candidates are
    * pairs sharing at least one signature band (shuffle hash join on
    * (band, band_hash) — candidate count ∝ collision density, never n²),
    * then exact cosine ≥ threshold on candidates only.
    *
    * Deterministic across engines: the hyperplanes are fixed literals
    * ([[planeComponent]]) so a DuckDB twin embedding the same constants
    * computes the identical candidate set — recall (1-(1-p^r)^b, p =
    * 1-θ/π) is a property of the parameters, not the engine.
    *
    * SIZING IS THE SCALE LEVER: with r bits per band, average bucket
    * occupancy is n/2^r, and the band self-join produces
    * Θ(b · n²/2^r) random-pair candidates — fixing r while n grows makes
    * the "linear" path quadratic. Size r ≈ log2(n/16) so buckets stay
    * ~16 vectors (measured on an 80k structureless corpus: r=8 → 396 s,
    * r=13 → 19 s, see SCALE.md); recall for cos ≥ 0.99 near-dups stays
    * ≥ 0.99 with 4 bands up to r=16. [[lshSignature]] packs the signature
    * into one Long, so b·r ≤ 64 — beyond that, widen to an array of
    * signature words. */
  def lshBandedPairs(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 32, bands: Int = 4,
                     dim: Int = 64,
                     maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val r = planes / bands
    // Hot-bucket guard (VERDICT r2 #5): a band value shared by millions of
    // vectors (a dense embedding cluster) would make its bucket quadratic;
    // buckets above maxBucket are excluded — deterministically, so the
    // DuckDB twin mirrors the same cap ([[graft.queries]] LshOracleSql).
    // The whole band path is NARROW — (id, sig) cached and EAGERLY
    // materialized, (id, band, bh) through the cap window and self-join —
    // and the dim-wide vectors re-join only per UNIQUE candidate pair.
    // Two measured 10× traps drove this shape (80k probe, SCALE.md):
    // (a) left lazy, the planes× dot-product projection evaluates in the
    // map stage of the cap window's exchange behind a Generate, where
    // codegen can't split the huge method and the stage drops out of JIT
    // (12.5 s/task × 32 uniform tasks vs 1.5 s in its own stage — the
    // eager count() pins it there); (b) caching or shuffling the
    // ARRAY<DOUBLE> column costs more than every other stage combined
    // (columnar cache building for array types), so the vectors stay in
    // the corpus scan and meet only the deduped candidates.
    // Consumer-released like every operator cache.
    val sigN = graft.CacheScope.cache(
      corpus.select(col(idCol).as("id"),
        lshSignature(asDouble(col(vecCol)), planes, dim).as("sig")))
    sigN.count()
    val bucketed = Dedup.capHotBuckets(
      sigN.select(col("id"), posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1))): _*)))
        .toDF("id", "band", "bh"),
      maxBucket)
    val cand = bucketed.toDF("i", "band", "bh")
      .join(bucketed.toDF("j", "band", "bh"), Seq("band", "bh"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"))
      .distinct() // a pair can collide in several bands
    val vecs = corpus.select(col(idCol).as("__vid"),
      asDouble(col(vecCol)).as("__v"))
    cand
      .join(vecs.toDF("__vi", "va"), col("i") === col("__vi"))
      .join(vecs.toDF("__vj", "vb"), col("j") === col("__vj"))
      .select(col("i"), col("j"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** Band width sized from the corpus count so average bucket occupancy
    * stays ~16 vectors: r = clamp(8, ⌈log2(n/16)⌉, 64/bands). The scale
    * law (see [[lshBandedPairs]]): fixed r makes the band self-join
    * Θ(b·n²/2^r) — quadratic as n grows (measured: r=8 → 396 s at 80k
    * vectors vs 19 s for sized r, SCALE.md); sizing r keeps it linear.
    * The upper clamp keeps b·r ≤ 64 so the signature still packs into one
    * Long; recall for cos ≥ 0.99 near-dups stays ≥ 0.99 with 4 bands up
    * to r=16. */
  def sizedBandBits(n: Long, bands: Int = 4): Int = {
    val sized = math.ceil(
      math.log(math.max(n, 1L).toDouble / 16.0) / math.log(2.0)).toInt
    math.min(64 / bands, math.max(8, sized))
  }

  /** [[lshBandedPairs]] with the band width SIZED from the corpus count —
    * the declared 100 TB path. One `count()` (metadata-only on parquet).
    * At fixture scale (n ≤ 16·2⁸ = 4096) the sizing floors at r = 8, so
    * the static r=8 oracle twin stays exact at the driver's gate. */
  def lshBandedPairsSized(corpus: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, bands: Int = 4, dim: Int = 64,
                          maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val r = sizedBandBits(corpus.count(), bands)
    lshBandedPairs(corpus, idCol, vecCol, threshold,
      planes = bands * r, bands = bands, dim = dim, maxBucket = maxBucket)
  }

  /** Radius (range) search: every corpus neighbor whose cosine similarity
    * with a probe meets `minCos` — the ANN variant for "find ALL near
    * matches" (contamination sweeps, near-dup audits) where top-k's fixed
    * fan-out would truncate. Same broadcast-probe shape as
    * [[bruteForceTopK]] but with NO window pass: the threshold filter is a
    * row-local predicate, so the plan is one codegen stage over the corpus
    * scan — no shuffle at all. The filter compares the 6dp-rounded
    * similarity (the emitted value), so the kept set is bit-stable across
    * engines. */
  def rangeSearch(corpus: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, minCos: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), asDouble(col(vecCol)).as("cv"))
    val p = probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("pv"))
    c.crossJoin(broadcast(p))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Nearest-centroid assignment audit (one k-means classification step):
    * assign every vector to its nearest label centroid (squared L2,
    * centroids from [[labelCentroids]]) and report the label × assignment
    * confusion counts — the "are my labels separable" health check before
    * training on them.
    *
    * Shape: centroids are labels × dim rows (tiny — broadcast); the corpus
    * explodes once and joins them per position, then TWO chained hash
    * aggregates: (vid, label, cand) → exact-decimal distance, then
    * (vid, label) → `min_by(cand, struct(dist, cand))` (pinned tiebreak),
    * then the confusion count. Per-term squares are identical doubles on
    * both engines (same inputs, same op order) and the distance SUM is
    * decimal — order-independent, so the argmin can't flip under
    * partitioning. */
  def nearestCentroidConfusion(corpus: DataFrame, idCol: String,
                               labelCol: String, vecCol: String): DataFrame = {
    val cents = labelCentroids(corpus, labelCol, vecCol)
      .select(col("label").as("cand"), col("pos"), col("centroid"))
    val dists = corpus
      .select(col(idCol).as("vid"), col(labelCol).as("label"),
        posexplode(col(vecCol)))
      .toDF("vid", "label", "pos", "xf")
      .join(broadcast(cents), Seq("pos"))
      // d*d, not pow(d,2): Math.pow / C pow make no bit-identity promise
      // for integer exponents, a plain product does
      .withColumn("df", col("xf").cast("double") - col("centroid"))
      .select(col("vid"), col("label"), col("cand"),
        (col("df") * col("df")).cast("decimal(25,10)").as("term"))
      .groupBy(col("vid"), col("label"), col("cand"))
      .agg(sum(col("term")).as("dist"))
    dists
      .groupBy(col("vid"), col("label"))
      .agg(min_by(col("cand"), struct(col("dist"), col("cand"))).as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Centroid-distance outlier audit — the embedding-space quality filter
    * a training pipeline runs per label: distance of every vector to its
    * own label centroid, then per-label z-scores over those distances and
    * a count of >2σ outliers (mislabeled or out-of-distribution vectors).
    *
    * Shape: distances reuse the broadcast-centroid join of
    * [[nearestCentroidConfusion]] but only against the OWN label (join on
    * (label, pos) — dim× smaller); the distance frame is CacheScope-cached
    * because two branches consume it (the per-label moments and the
    * z-score pass). Every cross-row sum is decimal (distances recast to
    * DECIMAL(18,9) so their squares stay inside 38 digits), so the
    * z-scores derive from order-independent moments; z and the means round
    * under fixed r6. */
  def centroidOutlierStats(corpus: DataFrame, idCol: String, labelCol: String,
                           vecCol: String): DataFrame = {
    def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val cents = labelCentroids(corpus, labelCol, vecCol)
      .select(col("label"), col("pos"), col("centroid"))
    val d = graft.CacheScope.cache(
      corpus.select(col(idCol).as("vid"), col(labelCol).as("label"),
          posexplode(col(vecCol)))
        .toDF("vid", "label", "pos", "xf")
        .join(broadcast(cents), Seq("label", "pos"))
        .withColumn("df", col("xf").cast("double") - col("centroid"))
        .groupBy(col("vid"), col("label"))
        .agg(sum((col("df") * col("df")).cast("decimal(25,10)")).as("d2"))
        .select(col("vid"), col("label"),
          sqrt(col("d2").cast("double")).cast("decimal(18,9)").as("d")))
    val st = d.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("qd"))
    val mean = col("sd").cast("double") / col("n")
    val z = (col("d").cast("double") - mean) /
      sqrt(col("qd").cast("double") / col("n") - mean * mean)
    val counts = d.join(broadcast(st), Seq("label"))
      .select(col("label"), r6(z).as("z"))
      .groupBy(col("label"))
      .agg(count(when(col("z") > 2.0, lit(1))).as("n_outliers"),
        max(col("z")).as("max_z"))
    st.select(col("label"), col("n").as("n_vecs"), r6(mean).as("mean_d"))
      .join(counts, Seq("label"))
  }

  /** Per-label mean embedding (class centroids) — the corpus-statistics
    * materialization behind IVF training, label-balance audits, and
    * centroid-distance outlier filters. Returns one row per (label,
    * dimension): `(label, pos, n_vecs, centroid)`.
    *
    * posexplode fans each vector into (pos, component) rows, then ONE hash
    * aggregate with map-side partials — the shuffle carries `labels × dim`
    * partial sums per partition, not the vectors, so the plan is linear in
    * corpus size and independent of skew in label frequency. Component sums
    * go through DECIMAL(20,8) so they are exact and order-independent (the
    * driver-gate requirement; float addition order would differ between
    * engines), then divide as double with fixed rounding. */
  def labelCentroids(corpus: DataFrame, labelCol: String,
                     vecCol: String): DataFrame =
    corpus.select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .toDF("label", "pos", "x")
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("x").cast("double").cast("decimal(20,8)")).cast("double") /
          count(lit(1)), 6).as("centroid"))

  /** Deterministic product-quantization codebook component: subspace s,
    * centroid k, local dim d, in [-1, 1) — a third hash seed so PQ
    * codebooks, IVF cells and LSH planes are pairwise uncorrelated.
    * Literals, so the DuckDB twin embeds the same constants. */
  private[graft] def pqComponent(s: Int, k: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((s, k, d, 13))
    h.toDouble / Int.MaxValue
  }

  /** Product quantization (PQ) encoding — the memory side of IVF-PQ, the
    * standard billion-vector ANN layout: the vector splits into `subs`
    * contiguous subspaces and each subspace is replaced by the index of its
    * nearest codebook centroid, compressing dim×float32 down to
    * subs×log2(ksub) bits (64×4B → 2B here). Returns per vector: the packed
    * code word, and the total squared reconstruction error that decides
    * whether the codebook is usable.
    *
    * Scale shape: the entire encoding is ONE row-local projection over the
    * corpus scan — no explode, no window, no shuffle; subs·ksub·dims/subs
    * = dim·ksub squared-difference terms per row, codegen'd. At 100 TB the
    * same plan holds with trained codebooks substituted as literals.
    *
    * Determinism: each subspace distance is a FIXED-ORDER left-associated
    * sum of (x−c)² doubles — an expression fold, not an aggregate — so both
    * engines produce identical bits and the argmin (ties → lowest k) cannot
    * flip; the packed code is exact integer arithmetic and only the final
    * error is rounded (r6). `d*d`, never `pow`. */
  /** The literal PQ codebook ([[pqComponent]]): subs × ksub × dim/subs. */
  private def pqBooks(subs: Int, ksub: Int,
                      dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(subs, ksub, dim / subs)(pqComponent)

  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              subs: Int = 8, ksub: Int = 4, dim: Int = 64): DataFrame = {
    // r16: packed code + reconstruction error via the
    // [[graft.functions.PqPackedCode]]/[[graft.functions.PqReconError]]
    // kernels — the codebook rides the reference array instead of
    // dim·ksub literal terms (one shared compiled class; the literal form
    // compiled a unique whole-stage class per codebook). Per-subspace
    // distances are the identical left-associated Σ(x−c)² folds, argmin
    // ties to the lowest code, the packed word exact integer arithmetic —
    // bit-identical output.
    val books = pqBooks(subs, ksub, dim)
    import graft.functions.QuantOps
    corpus.select(col(idCol).as("vec_id"),
      QuantOps.pqPackedCode(col(vecCol), books, identityForm = false)
        .as("pq_code"),
      (floor(QuantOps.pqReconErr(col(vecCol), books, identityForm = false)
        * 1e6 + 0.5) / 1e6).as("recon_err"))
  }

  /** PQ top-k search via ADC (asymmetric distance computation) — how a
    * billion-vector index actually serves queries: the corpus is scanned as
    * its 2-byte [[pqCodes]] code words (128× smaller than the raw float32
    * vectors), each probe precomputes ONE subs×ksub table of
    * probe-subvector→centroid squared distances, and the distance to a
    * corpus row is subs table lookups indexed by the bit-sliced code — no
    * per-pair vector arithmetic at all.
    *
    * Scale shape: encode is a row-local projection ([[pqCodes]]); the probe
    * table builds once per probe row and BROADCASTS with it; scoring is a
    * broadcast nested-loop over (code word, table) with `element_at`
    * lookups — the big side never shuffles until the rank window, and the
    * `row_number <= k` filter rewrites to a partial WindowGroupLimit so the
    * exchange carries ≤ k rows per mapper × probe. At 100 TB this is the
    * IVF-PQ cell-scan inner loop with trained codebooks as literals.
    *
    * Determinism: table entries are the same fixed-order folds as
    * [[pqCodes]], the ADC sum is a fixed-order fold over subspaces, and
    * ranking uses the r6-rounded distance with an id tie-break — both
    * engines rank identical doubles. */
  /** Probe-side ADC distance table: subs×ksub probe-subvector→centroid
    * squared distances, each the same fixed-order fold as [[pqCodes]]. */
  private def pqDistTable(vecCol: String, subs: Int, ksub: Int,
                          dim: Int): Column =
    // r16: the subs×ksub table via the [[graft.functions.PqAdcTable]]
    // kernel — same (s, c) row order, same left-assoc Σ(x−c)² folds,
    // codebook as a reference object instead of dim·ksub literal terms
    graft.functions.QuantOps.pqAdcTable(col(vecCol), pqBooks(subs, ksub, dim),
      identityForm = false)

  /** Shared ADC serving tail: per-probe rank by (adc_dist, nbr_id), keep
    * top-k — ONE definition of the family's rank/tie contract, used by
    * every ADC search variant (plain, IVF-composed, trained). */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("adc_dist"))
  }

  /** Σ_s dtab[s·ksub + code_s] — code_s bit-sliced from the packed word. */
  private def adcSum(subs: Int, ksub: Int): Column = {
    val shift = Integer.numberOfTrailingZeros(ksub)
    (0 until subs).map { s =>
      val codeS = shiftright(col("pq_code"), s * shift)
        .bitwiseAND(lit((ksub - 1).toLong))
      element_at(col("dtab"), (codeS + lit(s * ksub + 1)).cast("int"))
    }.reduce(_ + _)
  }

  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, k: Int, subs: Int = 8, ksub: Int = 4,
             dim: Int = 64): DataFrame = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    // pin the 2-byte code words into their OWN stage: the ADC sum reads
    // `pq_code` subs times, and CollapseProject would otherwise inline the
    // 256-term encode expression into the per-PAIR projection above the
    // join — measured 100× per-task on the 320k probe (same trap as the
    // LSH signature, see lshTopK). Cached size is 2 longs/row.
    val codes = graft.CacheScope.cache(
      pqCodes(corpus, idCol, vecCol, subs, ksub, dim)
        .select(col("vec_id").as("nbr_id"), col("pq_code")))
    codes.count()
    val p = probes.select(col(idCol).as("query_id"),
      pqDistTable(vecCol, subs, ksub, dim).as("dtab"))
    val adc = adcSum(subs, ksub)
    val scored = codes.crossJoin(broadcast(p))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** IVF-PQ top-k — the composed billion-vector index architecture
    * ([[ivfTopK]]'s cell pruning × [[pqTopK]]'s compressed scan): the
    * corpus index is (cell, 2-byte code word) per vector, built in one
    * row-local projection and pinned to its own stage; each probe expands
    * to its top-`nprobe` cells carrying its broadcast ADC table; the cell
    * join scans only ~nprobe/cells of the code words, ADC-scores them with
    * subs table lookups, and takes top-k. Both the scan-fraction lever
    * (nprobe/cells) and the 128× compression compose — this is the
    * structure a 100 TB corpus actually serves from, with trained
    * coarse/fine codebooks substituted as literals.
    *
    * Determinism: cell assignment and code word are [[ivfTopK]]/
    * [[pqCodes]]'s pinned-tie row-local expressions; ranking uses the
    * r6-rounded ADC with an id tie-break. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int, cells: Int = 16, nprobe: Int = 8,
                subs: Int = 8, ksub: Int = 4, dim: Int = 64): DataFrame = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    val c = corpus.select(col(idCol).as("nbr_id"),
      asDouble(col(vecCol)).as("cv"))
    // corpus index: cell (argmax dot, ties→lowest) + packed PQ code, one
    // row-local pass, cached (3 narrow columns/row) so neither wide
    // expression re-evaluates inside the join (see pqTopK)
    val codes = pqCodes(corpus, idCol, vecCol, subs, ksub, dim)
      .select(col("vec_id"), col("pq_code"))
    val ivfCents = Array.tabulate(cells, dim)(centroidComponent)
    val corpusIdx = graft.CacheScope.cache(
      c.withColumn("cell",
          graft.functions.QuantOps.argMaxDot(col("cv"), ivfCents))
        .select(col("nbr_id"), col("cell"))
        .join(codes, col("nbr_id") === col("vec_id"))
        .select(col("nbr_id"), col("cell"), col("pq_code")))
    corpusIdx.count()
    // probes: top-nprobe cells (score desc / cell asc, the ivfTopK tie
    // rule) × the ADC distance table; tiny side, broadcast
    val p = probes.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("pv"))
    val probeCells = p
      .withColumn("dtab", pqDistTable("pv", subs, ksub, dim))
      .select(col("query_id"), col("dtab"),
        explode(graft.functions.QuantOps.topCellsByDot(col("pv"), ivfCents,
          nprobe)).as("cell"))
    val adc = adcSum(subs, ksub)
    val scored = corpusIdx.join(broadcast(probeCells), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** Two-stage retrieval funnel — approximate candidate generation (PQ-ADC
    * over the compressed corpus, [[pqTopK]]) re-ranked by EXACT cosine over
    * the candidates' full-precision vectors. This is the production serving
    * shape: the cheap stage touches every vector but only 2-byte codes; the
    * exact stage touches `probes × kCand` vectors — so the candidate set
    * broadcasts into the corpus scan and the corpus itself never shuffles.
    * Recall is the ADC stage's; precision of the final ranking is exact.
    *
    * Determinism: ADC ranking as [[pqTopK]] (r6 + id tie-break), final
    * ranking the r6 cosine + id tie-break of [[lshTopK]]. */
  def pqRerankTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                   vecCol: String, k: Int, kCand: Int, subs: Int = 8,
                   ksub: Int = 4, dim: Int = 64): DataFrame = {
    val cand = pqTopK(corpus, probes, idCol, vecCol, kCand, subs, ksub, dim)
      .select(col("query_id"), col("nbr_id"))
    val cv = corpus.select(col(idCol).as("__ci"), asDouble(col(vecCol)).as("cv"))
    val pv = probes.select(col(idCol).as("__pi"), asDouble(col(vecCol)).as("pv"))
    val scored = cv
      .join(broadcast(cand), col("__ci") === col("nbr_id"))
      .join(broadcast(pv), col("query_id") === col("__pi"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("cos_sim"))
  }

  /** Lloyd's k-means training of the IVF coarse quantizer — the missing
    * piece between [[ivfTopK]]'s "trained centroids would broadcast the
    * same way" and an actual trained index. Each iteration is the classic
    * two-step at its minimal distributed cost:
    *
    *   - ASSIGN: row-local argmin of L2²(v, c) over k centroids, computed
    *     as `dot(v,v) − 2·dot(v,c) + dot(c,c)` with the codegen'd
    *     [[dot]] kernel and the centroids embedded as literals — no
    *     shuffle, no join; ties break to the lowest cell.
    *   - UPDATE: posexplode to (cell, d, x) into ONE hash aggregate of
    *     exact DECIMAL(20,8) sums (order-independent partials that
    *     map-side combine to ≤ k·dim rows per partition), mean rounded r6.
    *
    * Between iterations the k×dim model (≤ a few KB — MODEL state, not
    * data) is collected to the driver and re-embedded as literals, exactly
    * how a production trainer broadcasts the updated codebook each epoch;
    * per iteration the corpus is scanned once. An empty cell keeps its
    * previous centroid (n_members = 0). The final iteration's update stays
    * in the returned plan; the DuckDB twin recomputes every iteration from
    * the same literal init (`LshOracleSql.kmeansTrain`), so the gate
    * hash-checks the whole training trajectory.
    *
    * Returns (cell, d, c_val, n_members) for all k·dim positions. */
  def kmeansTrain(corpus: DataFrame, vecCol: String, k: Int, iters: Int,
                  dim: Int,
                  literalBudget: Long = CellLiteralBudget,
                  init: (Int, Int) => Double = centroidComponent,
                  // cardinality hint (a catalog stat or an already-run
                  // count) — skips the strategy-decision count job
                  nRows: Option[Long] = None): DataFrame =
    kmeansTrainRows(corpus, vecCol, k, iters, dim, literalBudget, init,
      new CorpusRows(corpus, nRows))

  /** [[kmeansTrain]] with the shared per-invocation [[CorpusRows]] —
    * composed trainers (imiTrain, the index writes) pass ONE instance
    * through every decision site so the corpus is counted at most once
    * per entry-point invocation (ADVICE r12). */
  private[graft] def kmeansTrainRows(corpus: DataFrame, vecCol: String,
                  k: Int, iters: Int, dim: Int, literalBudget: Long,
                  init: (Int, Int) => Double,
                  rows: CorpusRows): DataFrame = {
    require(iters >= 1)
    val spark = corpus.sparkSession
    val v = corpus.select(asDouble(col(vecCol)).as("v"))
    // Large-k training (k·dim past the literal budget) assigns through the
    // broadcast-codebook join instead of k×dim literal terms — same
    // crossover as [[ivfTopKWith]]. The corpus is cached WITH a pinned row
    // id once, outside the iteration loop: monotonically_increasing_id is
    // only stable across the multiple plans that reference it because the
    // cache materializes it exactly once (and each iteration then reads
    // from memory rather than re-scanning source).
    val joinPath = !literalAssignFits(k.toLong, dim, literalBudget, rows)
    lazy val vid = {
      val f = graft.CacheScope.cache(
        v.withColumn("__vid", monotonically_increasing_id()))
      rows.seed(f.count()) // materialize eagerly: two consumers per iteration
      f
    }
    def assign(cents: Array[Array[Double]]): DataFrame = if (joinPath) {
      // broadcast-codebook cross join: the L2² identity evaluated with the
      // SAME dot kernel + driver-side self-dot as the literal path (cc
      // rides in the model row), so assignments are bit-identical; argmin
      // ties to the lowest cell. The scored stream and aggregate stay
      // NARROW (__vid, cell, dist); the vector re-attaches from the CACHED
      // id'd frame — same payload-width law as the search-side assignment,
      // and the id key preserves duplicate multiplicity.
      val centRows = centroidRows(spark, cents)
      val best = vid.crossJoin(broadcast(centRows))
        .select(col("__vid"), col("cell"),
          (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cent")) +
            col("cc")).as("dist"))
        .groupBy(col("__vid"))
        .agg(min_by(col("cell"), struct(col("dist"), col("cell"))).as("cell"))
      vid.join(best, Seq("__vid")).select(col("v"), col("cell"))
    } else
      // argmin of the L2² dot identity, ties → lowest cell — the
      // [[graft.functions.ArgMinL2Cells]] kernel (r16): one compiled class
      // for EVERY iteration of every trainer (the literal struct-array form
      // embedded the iteration's centroid values as scalar literals, so
      // each iteration compiled its own whole-stage class — the measured
      // compile-lock stall). Same `(v·v − 2.0·(v·c)) + cc` association,
      // same selfDot fold, so assignments are bit-identical.
      v.select(col("v"),
        graft.functions.QuantOps.argMinL2(col("v"), cents).as("cell"))
    def update(assigned: DataFrame): DataFrame =
      trainerUpdate(assigned, dim, rows)
    var cents = Array.tabulate(k, dim)((c, d) => init(c, d))
    for (_ <- 1 until iters) {
      val next = cents.map(_.clone)
      update(assign(cents)).collect().foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("c_val")
      }
      cents = next
    }
    // (update shape note: see [[trainerUpdate]] — size-adaptive: wide
    // aggregate past the row crossover (measured 2-4× on the full trainer
    // at 640k×64), exploded narrow shape at fixture scale where the wide
    // plan's fixed cost dominates; bit-identical sums either way)
    val fin = update(assign(cents))
    import spark.implicits._
    val spine = (for (c <- 0 until k; d <- 0 until dim)
      yield (c, d, cents(c)(d))).toDF("cell", "d", "c_prev")
    spine.join(fin, Seq("cell", "d"), "left")
      .select(col("cell"), col("d"),
        coalesce(col("c_val"), col("c_prev")).as("c_val"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
      .orderBy(col("cell"), col("d"))
  }

  /** The Lloyd's UPDATE step shared by [[kmeansTrain]] and [[imiTrain]]:
    * per-cell member count and per-dimension sums → 1e-6-rounded means.
    * TWO physical shapes, chosen by corpus size like the assignment path
    * (the same [[LiteralAssignMaxRows]] crossover — both shapes compute
    * the identical order-independent DECIMAL(20,8) sums, so the trained
    * model is bit-identical across partitionings, engines and shapes; the
    * k-means / IMI gates hash-pin that):
    *
    *   - BIG corpora: ONE wide hash aggregate over the n assigned rows —
    *     `count(1)` plus `dim` per-component sums read straight off the
    *     vector — then a k-row posexplode to (cell, d) rows. The r11 shape
    *     exploded FIRST (n·dim narrow rows through the aggregate, keyed
    *     (cell, d)); both ship the same bounded k·dim partials (map-side
    *     combine), but the exploded one pays the aggregate's per-row
    *     overhead n·dim times — the r12 `trainer_precision_ab` probe
    *     showed that fan-out, NOT the decimal arithmetic, dominates the
    *     trainer at 640k×64.
    *   - SMALL corpora: the exploded narrow shape. The wide aggregate's
    *     dim decimal-sum columns carry a fixed plan/codegen cost that
    *     repeats per training iteration; at fixture scale that constant
    *     outweighs the per-row saving (the r12 fixture regressions on
    *     emb_kmeans / ann_imi_trained / ann_ivf_trained — VERDICT r12 #3).
    *
    * Input must carry (cell, v); returns (cell, d, n_members, c_val). */
  private def trainerUpdate(assigned: DataFrame, dim: Int,
                            rows: CorpusRows): DataFrame =
    if (rows.n <= LiteralAssignMaxRows) {
      val sx = sum(col("x").cast("decimal(20,8)")).cast("double")
      assigned.select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg(count(lit(1)).as("n_members"), sx.as("sx"))
        .select(col("cell"), col("d"), col("n_members"),
          (floor(col("sx") / col("n_members") * 1e6 + 0.5) / 1e6).as("c_val"))
    } else {
      def sx(d: Int): Column =
        sum(col("v").getItem(d).cast("decimal(20,8)")).cast("double")
      val aggs = (0 until dim).map(d => sx(d).as(s"__sx$d"))
      assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), aggs: _*)
        .select(col("cell"), col("n_members"),
          posexplode(array((0 until dim).map(d => col(s"__sx$d")): _*))
            .as(Seq("d", "sx")))
        .select(col("cell"), col("d"), col("n_members"),
          (floor(col("sx") / col("n_members") * 1e6 + 0.5) / 1e6).as("c_val"))
    }

  /** End-to-end trained IVF: [[kmeansTrain]] the codebook on the corpus,
    * then [[ivfTopKWith]] it — train → index → search composed in-engine.
    * The trained model is collected (k×dim doubles) and embedded as
    * literals in the search expressions, exactly the broadcast-codebook
    * deployment the untrained [[ivfTopK]] documents. */
  def ivfTrainedTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int, cells: Int, nprobe: Int,
                     iters: Int, dim: Int,
                     literalBudget: Long = CellLiteralBudget): DataFrame = {
    val cents = Array.ofDim[Double](cells, dim)
    kmeansTrain(corpus, vecCol, cells, iters, dim,
        literalBudget = literalBudget).collect().foreach { r =>
      cents(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("c_val")
    }
    ivfTopKWith(corpus, probes, idCol, vecCol, k, nprobe, cents,
      literalBudget = literalBudget)
  }

  /** Exact group means of consecutive `groupSize` fine centroids —
    * ascending-index sums, so the DuckDB twins (which embed these values
    * as SQL literals) see the identical doubles by construction. */
  private[graft] def coarseCentroids(cents: Array[Array[Double]],
                                     groupSize: Int): Array[Array[Double]] = {
    val dim = cents.head.length
    cents.grouped(groupSize).map { g =>
      Array.tabulate(dim) { d =>
        var s = 0.0; var i = 0
        while (i < g.length) { s += g(i)(d); i += 1 }
        s / g.length
      }
    }.toArray
  }

  /** TRUE two-level IMI training (VERDICT r8 #6) — the published
    * inverted-multi-index trains the coarse quantizer and the per-group
    * fine codebooks DIRECTLY, instead of deriving coarse cells as group
    * means of a flat codebook ([[coarseCentroids]]):
    *
    *   1. COARSE: [[kmeansTrain]] `groups` centroids on the corpus (the
    *      same Lloyd's trainer as the flat path — min-L2 assign, exact
    *      decimal update, r6 means).
    *   2. ROUTE: every vector to its coarse group by the SERVE-TIME rule
    *      (max-dot, ties to the lowest group — identical to
    *      [[semanticAssign2Level]]'s coarse step, so the training
    *      partition is exactly the serving partition). Routed once and
    *      cached; routing never changes during fine training.
    *   3. FINE: joint Lloyd's over all `groups × groupSize` cells where
    *      each vector competes ONLY among its own group's cells — one
    *      broadcast-join job per iteration for every group simultaneously
    *      (NOT `groups` separate trainers), with the same min-L2/lowest-
    *      cell tie rule and decimal update as [[kmeansTrain]]. An empty
    *      cell keeps its init.
    *
    * Cost per fine iteration: corpus × groupSize scored rows (each vector
    * meets only its group's cells via the `grp` join key) — k-independent,
    * vs corpus × k for flat training; model state is (groups + k)·dim
    * driver doubles. Returns (coarse, fineFlat) with group j's cells at
    * indices [j·groupSize, (j+1)·groupSize) — the layout
    * [[semanticAssign2Level]] expects. */
  def imiTrain(corpus: DataFrame, vecCol: String, groups: Int,
               groupSize: Int, iters: Int, dim: Int,
               literalBudget: Long = CellLiteralBudget,
               nRows: Option[Long] = None)
               : (Array[Array[Double]], Array[Array[Double]]) =
    imiTrainRows(corpus, vecCol, groups, groupSize, iters, dim,
      literalBudget, new CorpusRows(corpus, nRows))

  /** [[imiTrain]] with the shared per-invocation [[CorpusRows]] (see
    * [[kmeansTrainRows]]). */
  private[graft] def imiTrainRows(corpus: DataFrame, vecCol: String,
               groups: Int, groupSize: Int, iters: Int, dim: Int,
               literalBudget: Long,
               rows: CorpusRows)
               : (Array[Array[Double]], Array[Array[Double]]) = {
    require(iters >= 1 && groups >= 1 && groupSize >= 1)
    val spark = corpus.sparkSession
    val k = groups * groupSize

    val coarse = Array.ofDim[Double](groups, dim)
    kmeansTrainRows(corpus, vecCol, groups, iters, dim, literalBudget,
        centroidComponent, rows)
      .collect().foreach { r =>
        coarse(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("c_val")
      }

    var fine = Array.tabulate(k, dim)((c, d) => centroidComponent(c, d))
    def stepAll(fineStep: Array[Array[Double]] => Array[(Int, Int, Double)])
        : Unit =
      for (_ <- 1 to iters) {
        val next = fine.map(_.clone)
        fineStep(fine).foreach { case (c, d, x) => next(c)(d) = x }
        fine = next
      }

    if (!literalAssignFits(k.toLong, dim, literalBudget, rows)) {
      // JOIN path (big corpora / big k·dim): serve-time routing cached
      // once as (__vid, grp, v); each fine iteration is a broadcast-
      // codebook join — plan O(1) in k, the r12 interpreter-wall fix
      val vid = graft.CacheScope.cache(
        corpus.select(asDouble(col(vecCol)).as("v"))
          .withColumn("__vid", monotonically_increasing_id()))
      rows.seed(vid.count())
      val coarseRows = centroidRows(spark, coarse).withColumnRenamed("cell", "grp")
      val routed = graft.CacheScope.cache(
        vid.crossJoin(broadcast(coarseRows))
          .select(col("__vid"), col("grp"), dot(col("v"), col("cent")).as("score"))
          .groupBy(col("__vid"))
          .agg(max_by(col("grp"),
            struct(col("score"), (-col("grp")).as("ng"))).as("grp"))
          .join(vid, Seq("__vid")))
      routed.count()

      stepAll { cur =>
        val fineRows = centroidRows(spark, cur)
          .withColumn("grp", expr(s"cell div $groupSize").cast("int"))
        val best = routed.join(broadcast(fineRows), Seq("grp"))
          .select(col("__vid"),
            (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cent")) +
              col("cc")).as("dist"), col("cell"))
          .groupBy(col("__vid"))
          .agg(min_by(col("cell"), struct(col("dist"), col("cell"))).as("cell"))
        trainerUpdate(routed.join(best, Seq("__vid"))
            .select(col("cell"), col("v")), dim, rows)
          .select(col("cell"), col("d"), col("c_val"))
          .collect()
          .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("d"),
            r.getAs[Double]("c_val")))
      }
    } else {
      // LITERAL path (fixture-scale corpora under [[LiteralAssignMaxRows]]
      // with k·dim inside the literal budget): row-local coarse routing +
      // per-group literal argmin — no id cache, no exchange, no broadcast;
      // the join path's fixed jobs (two cache fills + counts + crossJoin
      // per invocation) were the r12 fixture regressions on
      // ann_imi_trained / dedup_semantic_* (VERDICT r12 #3). Same dot
      // kernel on the same 1e-6-rounded model values, same tie rules
      // (max (score, -grp); min (dist, cell)) — the trained model is
      // bit-identical to the join path's, like the hash-gated
      // ann_ivf_trained_joinpath pair.
      val v = corpus.select(asDouble(col(vecCol)).as("v"))
      stepAll { cur =>
        // coarse argmax-dot routing (ties → lowest group) + fine argmin-L2
        // within the routed group's slice (ties → lowest cell), fused in
        // the [[graft.functions.ImiAssignL2Cells]] kernel (r16): the old
        // struct-array form embedded each iteration's fine centroids as
        // scalar literals, compiling a unique whole-stage class per
        // iteration. Same dot folds, same (v·v − 2.0·(v·c)) + cc
        // association, same tie rules — bit-identical cells.
        val assigned = v.select(col("v"),
          graft.functions.QuantOps.imiAssignL2(col("v"), coarse, cur,
            groupSize).as("cell"))
        trainerUpdate(assigned, dim, rows)
          .select(col("cell"), col("d"), col("c_val"))
          .collect()
          .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("d"),
            r.getAs[Double]("c_val")))
      }
    }
    (coarse, fine)
  }

  /** [[semanticDedup2LevelWith]] served by a TRAINED IMI: the coarse
    * quantizer and per-group fine codebooks come from [[imiTrain]] instead
    * of group means of a flat codebook. Same assignment rule, same pairing
    * tail — only the model differs. */
  def semanticDedup2LevelTrainedWith(corpus: DataFrame, idCol: String,
                                     vecCol: String, threshold: Double,
                                     coarse: Array[Array[Double]],
                                     fine: Array[Array[Double]], groupSize: Int,
                                     maxCell: Int = Dedup.DefaultMaxBucket,
                                     literalBudget: Long = CellLiteralBudget)
                                     : DataFrame =
    semanticPairTail(
      semanticAssign2Level(corpus, idCol, vecCol, fine, groupSize,
        literalBudget, Some(coarse)),
      threshold, maxCell)

  /** IMI-trained ANN search — the inverted-multi-index SERVING path
    * (Babenko & Lempitsky 2012's index family, the same coarse structure
    * FAISS's IMI uses), completing the trained-index family: [[imiTrain]]
    * trains the coarse quantizer + per-group fine codebooks, the corpus
    * inverted lists are the two-level rank-1 assignment
    * ([[semanticAssign2Level]] — the SAME lists `dedup_semantic_imi`
    * dedups over), and each probe fans out top-`nprobeGroups` coarse
    * groups → top-`nprobeCells` fine cells within them → exact-cosine
    * re-rank of those cells' members.
    *
    * Why this exists next to [[ivfTrainedTopK]]: a flat IVF's probe ranks
    * ALL k cells per query and its trainer pays n·k scoring flops per
    * iteration; the IMI's probe ranks k/g groups + the probed groups'
    * g-sized slices (n·(k/g + g·nprobeGroups) flops) and its trainer is
    * k-independent per iteration (SCALE.md imi_parts) — at the 100 TB
    * operating point (k ≈ 10⁴-10⁵ cells) the IMI shape is the one that
    * still fits. Both levels ride broadcast-codebook joins: plan size
    * O(1) in k, scored streams narrow, probes ranked per PINNED row
    * (duplicate probe ids pool only at the final rank window — the
    * declared semantics across this top-k family).
    *
    * Determinism: every score is the codegen'd [[dot]] kernel on the
    * trained (1e-6-rounded) centroids, ties pin to the lowest
    * group/cell/neighbor id, cosine rounds to 6 — the DuckDB twin
    * recomputes the whole trajectory (training, lists, probe, re-rank)
    * and the gate hash-checks it end to end. */
  def imiTrainedTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int, groups: Int, groupSize: Int,
                     iters: Int, dim: Int, nprobeGroups: Int,
                     nprobeCells: Int,
                     literalBudget: Long = CellLiteralBudget): DataFrame = {
    val spark = corpus.sparkSession
    val rows = new CorpusRows(corpus)
    val (coarse, fine) = imiTrainRows(corpus, vecCol, groups, groupSize,
      iters, dim, literalBudget, rows)
    // inverted lists: serve-time two-level rank-1 assignment — one cell
    // per corpus vector, so a (probe, corpus) pair meets at most once
    val corpusCells = semanticAssign2Level(corpus, idCol, vecCol, fine,
        groupSize, literalBudget, Some(coarse), Some(rows))
      .select(col("vec_id").as("nbr_id"), col("v").as("cv"), col("cell"))
    imiServe(spark, probes, idCol, vecCol, corpusCells, k, coarse, fine,
      groupSize, nprobeGroups, nprobeCells)
  }

  /** The IMI SERVING tail shared by [[imiTrainedTopK]] (model trained
    * in-invocation) and [[imiIndexSearch]] (model + lists reloaded from a
    * persisted index): top-`nprobeGroups` coarse groups per probe →
    * top-`nprobeCells` fine cells within them → exact-cosine re-rank of
    * the probed cells' inverted-list members. Both codebook levels ride
    * broadcast joins (plan O(1) in k), probes rank per PINNED row, the
    * corpus-side lists never shuffle (probe side broadcasts into the cell
    * join). `corpusCells` must carry (nbr_id, cv, cell). */
  private def imiServe(spark: org.apache.spark.sql.SparkSession,
                       probes: DataFrame, idCol: String, vecCol: String,
                       corpusCells: DataFrame, k: Int,
                       coarse: Array[Array[Double]],
                       fine: Array[Array[Double]], groupSize: Int,
                       nprobeGroups: Int, nprobeCells: Int): DataFrame = {
    val probedCells = imiProbedCells(probes, idCol, vecCol, coarse, fine,
      groupSize, nprobeGroups, nprobeCells)
    // broadcast gate: count the FAN-OUT itself, as [[imiIndexSearch]]
    // does (ADVICE r16: a separate probes.count() ran the probe lineage
    // once more than needed and, on a derived probe frame, paid its full
    // lineage twice per serve; the count prunes the wide pv column and is
    // the exact broadcast-size bound the old probes × nprobeCells product
    // only over-estimated)
    val (nProbed, _) = probedCellSet(spark, probedCells)
    val dim = fine.headOption.map(_.length).getOrElse(0)
    imiRank(corpusCells, probedCells, k, imiProbeRowBytes(dim) * nProbed)
  }

  /** Estimated serialized bytes of one (query_id, pv, cell) probe-fan-out
    * row: the dim-length double array plus keys and row overhead. */
  private def imiProbeRowBytes(dim: Int): Long = dim.toLong * 8 + 64

  /** One ADC-table probe row: subs×ksub doubles plus keys and overhead. */
  private def adcProbeRowBytes(subs: Int, ksub: Int): Long =
    subs.toLong * ksub * 8 + 64

  /** The exact-cosine re-rank tail over the probed cells' inverted-list
    * members (ADVICE r12: probedCells is probes × nprobeCells rows, each
    * carrying the full probe vector; it broadcasts under
    * [[IndexTables.MaxProbeBroadcastBytes]] — the corpus/list side never
    * shuffles — and past it the planner may fall back to a shuffle join). */
  private def imiRank(corpusCells: DataFrame, probedCells: DataFrame,
                      k: Int, estProbeBytes: Long): DataFrame = {
    val scored = corpusCells
      .join(IndexTables.maybeBroadcast(probedCells, estProbeBytes), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("nbr_id"), col("cos_sim"))
  }

  /** The IMI probe fan-out shared by [[imiServe]] and [[imiIndexSearch]]'s
    * partition pruning: top-`nprobeGroups` coarse groups per probe →
    * top-`nprobeCells` fine cells within them. r16: ROW-LOCAL via the
    * [[graft.functions.ImiTopCellsExpr]] kernel — the model is ALREADY
    * driver-resident at every call site (reloaded by [[imiIndexModel]] or
    * trained in-invocation), so ranking it through a probe-id cache + a
    * broadcast cross join + TWO per-probe row_number windows (two
    * shuffles + sorts of the probe fan-out per serve) bought nothing but
    * plan-size safety the reference-object kernel now provides for free.
    * The kernel reproduces both windows' (score DESC, id ASC)
    * `Double.compare` total order exactly, so the probed multiset — and
    * every downstream hash — is unchanged. One projection + explode; no
    * probe-side exchange at all. */
  private def imiProbedCells(probes: DataFrame, idCol: String, vecCol: String,
                             coarse: Array[Array[Double]],
                             fine: Array[Array[Double]], groupSize: Int,
                             nprobeGroups: Int, nprobeCells: Int): DataFrame =
    probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("pv"))
      .select(col("query_id"), col("pv"),
        explode(graft.functions.QuantOps.imiTopCells(col("pv"), coarse,
          fine, groupSize, nprobeGroups, nprobeCells)).as("cell"))

  /** Persist a trained IMI index as three plain parquet tables — the same
    * train/encode-ONCE, search-many production split [[pqIndexWrite]]
    * established (a serving path never retrains per query; the training
    * cost amortizes across every search): `coarse/` and `fine/` hold the
    * two codebook levels as (cell, d, comp) rows (doubles are bit-exact
    * through parquet, so a reloaded model assigns and scores identically),
    * `lists/` the inverted lists as (nbr_id, cell, cv) — cell for the
    * probe-pruned scan, the full-precision vector for the exact-cosine
    * re-rank (the IVFFlat/IMI-flat layout; the compressed-code variant is
    * [[imiPqTopK]]'s composition). No custom file format: the index IS a
    * set of tables, inheriting partitioning + predicate pushdown.
    *
    * Layout and lifecycle: [[IndexTables]] (`coarse/` and `fine/` are
    * model tables, `lists/` the generational data table). */
  def imiIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, groups: Int, groupSize: Int, iters: Int,
                    dim: Int,
                    literalBudget: Long = CellLiteralBudget): Unit =
    imiRootWrite(corpus, vecCol, path, groups, groupSize, iters, dim,
        literalBudget, "lists") { (coarse, fine, rows) =>
      semanticAssign2Level(corpus, idCol, vecCol, fine, groupSize,
          literalBudget, Some(coarse), Some(rows))
        .select(col("vec_id").as("nbr_id"), col("cell"), col("v").as("cv"))
    }

  /** Train the two IMI levels on `corpus` and land them as `coarse/` and
    * `fine/` (cell, d, comp) with the data table `table` — `data`'s rows
    * under the trained model — as ONE index-root generation
    * ([[IndexTables.build]]): a write over an existing path (fresh build,
    * [[imiIndexRebuild]]) is a reader-safe swap of the whole index, never
    * a partially-replaced model. The three writes overlap on driver
    * threads (guide §2.6).
    *
    * The data table is cell-partitioned ADAPTIVELY — the index's analog of
    * the store's bucket directories: when cells are file-sized (≥
    * [[MinRowsPerCellPartition]] rows each), a search probing p of k
    * cells reads ~p/k of the files via static partition pruning
    * ([[imiIndexSearch]]); when cells are small the same layout is a
    * tiny-file explosion (measured at 640k×2560 cells ≈ 250 rows/cell:
    * write 51 → 343 s, search 4.7 → 26.6 s across 1753 file-tasks —
    * SCALE.md imi_index_ab), so it lands unpartitioned and the probed-cell
    * predicate applies as an ordinary pushed filter instead. */
  private def imiRootWrite(corpus: DataFrame, vecCol: String, path: String,
                           groups: Int, groupSize: Int, iters: Int,
                           dim: Int, literalBudget: Long, table: String)(
      data: (Array[Array[Double]], Array[Array[Double]], CorpusRows) =>
        DataFrame): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexTables.build(spark, path) { root =>
      val sharedRows = new CorpusRows(corpus)
      val (coarse, fine) = imiTrainRows(corpus, vecCol, groups, groupSize,
        iters, dim, literalBudget, sharedRows)
      def dump(m: Array[Array[Double]], name: String): Unit =
        spark.createDataset(
            for { c <- m.indices; d <- m(c).indices } yield (c, d, m(c)(d)))
          .toDF("cell", "d", "comp")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
      val k = coarse.length.toLong * groupSize
      val cellPart = sharedRows.n >= k * MinRowsPerCellPartition
      graft.Par.run(
        () => dump(coarse, "coarse"),
        () => dump(fine, "fine"),
        () => {
          val out = data(coarse, fine, sharedRows).write.mode("overwrite")
          (if (cellPart) out.partitionBy("cell") else out)
            .parquet(IndexTables.writeDir(s"$root/$table"))
        })
    }
  }

  /** The live index-root generation of a persisted ANN index — the ONE
    * resolution a serve/maintenance entry makes before deriving model and
    * data directories from it (see [[IndexTables]]' layout: resolving
    * per-table instead could pair a rebuilt model with the old
    * generation's assignments). Public so specs and operational tooling
    * can locate the live tables. */
  def indexLiveRoot(spark: org.apache.spark.sql.SparkSession,
                    path: String): String =
    IndexTables.liveDir(spark, path)

  /** Compact a persisted ANN index's data tables after appends: every
    * [[imiIndexAppend]] / [[imiPqIndexAppend]] / [[pqIndexAppend]] batch
    * lands as its own file. See [[IndexTables]] (compaction). */
  def indexCompact(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit =
    IndexTables.compact(spark, path)

  /** Threshold-triggered [[indexCompact]], cheap to call after every
    * append. Returns whether any table compacted. */
  def indexMaybeCompact(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        maxFilesPerLeaf: Int = IndexTables.MaxFilesPerLeaf)
      : Boolean =
    IndexTables.maybeCompact(spark, path, maxFilesPerLeaf)

  /** Tombstone-delete vectors from a persisted ANN index WITHOUT
    * rewriting it — the takedown/decontamination path (remove opted-out
    * or contaminated documents; retraining or re-encoding for a deletion
    * batch is neither possible nor wanted): every search drops the ids
    * until [[indexVacuum]] folds them in. See [[IndexTables]]
    * (tombstones). */
  def indexDelete(spark: org.apache.spark.sql.SparkSession,
                  ids: DataFrame, idCol: String, path: String): Unit =
    IndexTables.tombstone(path,
      ids.select(col(idCol).cast("long").as("nbr_id")).distinct())

  /** Physically fold the tombstones into the ANN index's data tables:
    * each rewrites its live generation without the tombstoned rows as
    * generation N+1 (a relational rewrite, not a byte copy — run
    * [[indexCompact]] after it if it fans out into small files). See
    * [[IndexTables]] (vacuum). */
  def indexVacuum(spark: org.apache.spark.sql.SparkSession,
                  path: String): Unit =
    IndexTables.foldTombstones(spark, path) { (root, tomb) =>
      IndexTables.dataTables(spark, root).foreach(t =>
        IndexTables.rewriteTable(spark, s"$root/$t")(
          tomb.antiJoin(_, "nbr_id")))
    }

  /** Rows-per-cell threshold above which a persisted index's list/code
    * table partitions by cell (directory pruning at search); below it the
    * layout would shatter into sub-file-sized partitions. ~4096 64-dim
    * double rows ≈ a few MB per cell file. */
  private[graft] val MinRowsPerCellPartition = 4096L


  /** Serving-session MODEL cache (VERDICT r12 #5): a driver-side LRU of
    * reloaded persisted-index models keyed by their model directories,
    * invalidated by those directories' (name, length, mtime) fingerprint —
    * one cheap `listStatus` per directory per search replaces a parquet
    * read + collect + array rebuild of the SAME frozen model on every
    * query batch of a serving session. Bounded: ≤ [[ModelCacheMax]]
    * entries, each k×dim (or subs×ksub×ds) doubles — model state, never
    * data. A retrain rewrites the model files (new lengths/mtimes) and
    * misses; appends never touch model directories, so their hits are
    * exactly the frozen-model contract. */
  private val ModelCacheMax = 16
  private val modelCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (String, AnyRef)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (String, AnyRef)]): Boolean =
          size() > ModelCacheMax
      })

  private def dirFingerprint(spark: org.apache.spark.sql.SparkSession,
                             dirs: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) s"$d=absent"
      else f.listStatus(p).toSeq.sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .mkString(s"$d=[", ",", "]")
    }.mkString("|")
  }

  private def cachedModel[T <: AnyRef](
      spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String])(load: => T): T = {
    val key = dirs.mkString(",")
    val fp = dirFingerprint(spark, dirs)
    val hit = modelCache.get(key)
    if (hit != null && hit._1 == fp) hit._2.asInstanceOf[T]
    else {
      val m = load
      modelCache.put(key, (fp, m))
      m
    }
  }

  /** Reload a persisted IMI model ([[imiIndexWrite]]'s `coarse/` +
    * `fine/` under an already-resolved index ROOT generation — callers
    * resolve the root once and derive every table from it): bounded k×dim
    * state, shape inferred from the stored indices; served from the
    * session [[modelCache]] when the stored model is unchanged (the cache
    * key carries the root, so a rebuild's new generation misses
    * naturally). */
  private def imiIndexModel(spark: org.apache.spark.sql.SparkSession,
                            root: String)
      : (Array[Array[Double]], Array[Array[Double]]) =
    cachedModel(spark, Seq(s"$root/coarse", s"$root/fine")) {
      def load(name: String): Array[Array[Double]] = {
        val rows = graft.Trace.phase(spark, "ann.model.load")(
          IndexTables.read(spark, s"$root/$name").collect())
        val cells = rows.iterator.map(_.getAs[Int]("cell")).max + 1
        val dim = rows.iterator.map(_.getAs[Int]("d")).max + 1
        val m = Array.ofDim[Double](cells, dim)
        rows.foreach { r =>
          m(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("comp")
        }
        m
      }
      (load("coarse"), load("fine"))
    }

  /** Append NEW vectors to an [[imiIndexWrite]]-persisted index WITHOUT
    * retraining — the steady-state maintenance path (codebooks stay frozen
    * until a scheduled re-train, exactly [[pqIndexAppend]]'s contract):
    * the stored two-level model is reloaded and the batch is assigned by
    * the SAME rank-1 coarse-then-fine rule the original build used, landing
    * as an ordinary parquet append to the live generation of `lists/`
    * (run [[indexCompact]] on the maintenance cadence — appends fragment,
    * SCALE.md imi_index_compact_ab). */
  def imiIndexAppend(spark: org.apache.spark.sql.SparkSession,
                     batch: DataFrame, idCol: String, vecCol: String,
                     path: String, groupSize: Int,
                     literalBudget: Long = CellLiteralBudget): Unit =
    graft.Trace.phase(spark, "ann.append")(imiIndexAppendAssigned(spark,
      imiIndexAssign(spark, batch, idCol, vecCol, path, groupSize,
        literalBudget), path))

  /** The COMPUTE step of [[imiIndexAppend]], exposed for streaming ingest:
    * frozen-model rank-1 cell assignment of an arrival batch, returning
    * (nbr_id, cell, cv). Per-micro-batch assignment is the idempotently
    * restageable part (overwrite a batchId-keyed staging directory under
    * foreachBatch's at-least-once contract); publication
    * ([[imiIndexAppendAssigned]]) stays one transactional append of the
    * staged rows — the stage-then-publish split every exactly-once ingest
    * into an append-only table uses. */
  def imiIndexAssign(spark: org.apache.spark.sql.SparkSession,
                     batch: DataFrame, idCol: String, vecCol: String,
                     path: String, groupSize: Int,
                     literalBudget: Long = CellLiteralBudget): DataFrame = {
    val (coarse, fine) = imiIndexModel(spark, indexLiveRoot(spark, path))
    semanticAssign2Level(batch, idCol, vecCol, fine, groupSize,
        literalBudget, Some(coarse))
      .select(col("vec_id").as("nbr_id"), col("cell"), col("v").as("cv"))
  }

  /** The IO step of [[imiIndexAppend]]: publish already-assigned
    * (nbr_id, cell, cv) rows to the live `lists/` generation, matching
    * the base layout. */
  def imiIndexAppendAssigned(spark: org.apache.spark.sql.SparkSession,
                             assigned: DataFrame, path: String): Unit =
    IndexTables.appendLive(assigned.select(col("nbr_id"), col("cell"),
      col("cv")), s"${indexLiveRoot(spark, path)}/lists")

  /** Serve top-k from an [[imiIndexWrite]]-persisted index: reload the
    * two codebook levels (bounded k×dim doubles), scan only the probed
    * cells' stored inverted lists — [[imiTrainedTopK]]'s serving shape
    * with the model and lists read from disk instead of trained
    * per-invocation (the amortization "What's missing" item: the measured
    * 336.7 s training cost pays once at [[imiIndexWrite]], never here). */
  def imiIndexSearch(spark: org.apache.spark.sql.SparkSession,
                     probes: DataFrame, idCol: String, vecCol: String,
                     path: String, k: Int, groupSize: Int,
                     nprobeGroups: Int, nprobeCells: Int,
                     // FILTERED search (the vector-DB table stake): a
                     // predicate over the stored list rows (`nbr_id`,
                     // `cell`) composed INSIDE the pruned scan — it rides
                     // the same parquet pushdown as the probed-cell set,
                     // so a selective filter shrinks the ranked stream
                     // instead of post-filtering the top-k (which would
                     // return < k survivors)
                     serveFilter: Option[Column] = None): DataFrame =
    imiIndexOpen(spark, path)
      .search(probes, idCol, vecCol, k, groupSize, nprobeGroups,
        nprobeCells, serveFilter)

  /** Resolve a persisted IMI index ONCE for a serving session (the
    * [[graft.operators.TextIndex.bm25IndexOpen]] contract, VERDICT r16
    * next #1): the index-root generation, the reloaded model, the stored
    * lists relation (file listing + parquet schema) and the pending-
    * tombstone listing bind at open and are reused by every
    * [[ImiReader.search]]/[[ImiReader.assign]] call — a foreachBatch serve
    * loop pays those per-trigger driver costs once per stream. Valid while
    * the index is frozen (the online gates build before any probe
    * arrives); a serve that must observe concurrent rebuilds/deletes
    * re-opens per call, which is what [[imiIndexSearch]] does. */
  def imiIndexOpen(spark: org.apache.spark.sql.SparkSession,
                   path: String): ImiReader = new ImiReader(spark, path)

  /** See [[imiIndexOpen]]. Holds the resolved root, the bounded k×dim
    * model arrays and lazy relations — no data collected or persisted. */
  final class ImiReader private[operators] (
      spark: org.apache.spark.sql.SparkSession, path: String) {
    // ONE root resolution per open: model and lists must come from the
    // same index generation (a rebuild swapping between two per-table
    // resolutions would mix them)
    private val root = indexLiveRoot(spark, path)
    private val model = imiIndexModel(spark, root)
    private val listsAll = IndexTables.readLive(spark, s"$root/lists")
    private val tomb = IndexTables.tombstones(spark, path)
    private def live(df: DataFrame): DataFrame = tomb.antiJoin(df, "nbr_id")

    def search(probes: DataFrame, idCol: String, vecCol: String, k: Int,
               groupSize: Int, nprobeGroups: Int, nprobeCells: Int,
               serveFilter: Option[Column] = None): DataFrame = {
      val (coarse, fine) = model
      // the probed-cell set is BOUNDED MODEL-SIZED state (≤ min(k cells,
      // probes × nprobeCells) ints): collecting it turns the cell join's
      // implicit restriction into a STATIC partition predicate the reader
      // prunes directories with — the search then scans ~nprobe/k of the
      // stored lists instead of every file (the store's targetObjs pattern
      // applied to the ANN index)
      val probedCells = imiProbedCells(probes, idCol, vecCol, coarse, fine,
        groupSize, nprobeGroups, nprobeCells)
      // the fan-out itself is a row-local projection (see
      // imiProbedCells), so recomputing it under the final join costs
      // less than caching its dim-wide rows ever did
      val (nProbed, cellSet) = probedCellSet(spark, probedCells)
      val scanned = listsAll.filter(col("cell").isin(cellSet.map(Int.box): _*))
      val lists = live(
        serveFilter.map(scanned.filter).getOrElse(scanned)
          .select(col("nbr_id"), col("cv"), col("cell")))
      val dim = fine.headOption.map(_.length).getOrElse(0)
      imiRank(lists, probedCells, k, imiProbeRowBytes(dim) * nProbed)
    }

    /** Frozen-model rank-1 cell assignment against the opened model —
      * [[imiIndexAssign]]'s compute step without the per-batch root/model
      * re-resolution. */
    def assign(batch: DataFrame, idCol: String, vecCol: String,
               groupSize: Int,
               literalBudget: Long = CellLiteralBudget): DataFrame = {
      val (coarse, fine) = model
      semanticAssign2Level(batch, idCol, vecCol, fine, groupSize,
          literalBudget, Some(coarse))
        .select(col("vec_id").as("nbr_id"), col("cell"), col("v").as("cv"))
    }
  }

  /** A probe batch's fan-out row count (the broadcast-gate input) and
    * its probed-cell set, from the (…, cell) fan-out: ONE single-task job
    * collects the fan-out's cells — the wide probe columns prune away —
    * while it holds at most [[TextIndex.MaxTermInListValues]] rows; past
    * that, one per-cell aggregate. */
  private def probedCellSet(spark: org.apache.spark.sql.SparkSession,
                            probedCells: DataFrame): (Long, Array[Int]) =
    graft.Trace.phase(spark, "ann.search.cells") {
      val cells = probedCells.select(col("cell"))
      val ceiling = TextIndex.MaxTermInListValues
      val rows = IndexTables.collectBounded(cells, ceiling)
      if (rows.length <= ceiling)
        (rows.length.toLong, rows.map(_.getInt(0)).distinct.sorted)
      else {
        val perCell = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .collect()
        (perCell.map(_.getLong(1)).sum, perCell.map(_.getInt(0)).sorted)
      }
    }

  /** Recall@k of an approximate top-k result against the exact one —
    * evaluation as an ENGINE operator, not a test assertion: the audit a
    * serving pipeline publishes next to its nprobe/probe-depth knobs (the
    * "measure, don't guess" view — recall is WHAT the IVF/IMI family
    * trades for its scan fraction, so it belongs in the data card).
    * Both inputs carry (query_id, nbr_id) rows (any of the top-k family's
    * outputs); per query: hits = |approx ∩ exact|, recall = hits/k.
    * One narrow join + one aggregate — both sides are k·probes rows, so
    * the audit's cost is the two searches, never an extra corpus pass. */
  def recallAudit(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    // both sides distinct (ADVICE r13): the top-k family emits distinct
    // (query_id, nbr_id) pairs, but a public audit operator must not count
    // a duplicated approx pair as multiple hits (recall > 1)
    exact.select(col("query_id"), col("nbr_id")).distinct()
      .join(approx.select(col("query_id"), col("nbr_id")).distinct()
          .withColumn("hit", lit(1L)),
        Seq("query_id", "nbr_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / k.toDouble, 6).as(s"recall_at_$k"))

  /** Maintenance view of a persisted IMI index: live per-cell inverted-
    * list sizes (tombstones applied) — the balance audit that decides
    * when to retrain (skewed cells ⇒ the coarse quantizer no longer fits
    * the data) vs merely compact. One aggregate over the pruned live
    * generation; never loads vectors. */
  def imiIndexStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    IndexTables.tombstones(spark, path).antiJoin(IndexTables
        .readLive(spark, s"${indexLiveRoot(spark, path)}/lists")
        .select(col("nbr_id"), col("cell")), "nbr_id")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell"))

  /** RETRAIN a persisted IMI index on its CURRENT live rows — the missing
    * arm of [[imiIndexStats]]' retrain-vs-compact decision (VERDICT r13
    * #1). Appends assign under the frozen model BY CONTRACT, so when the
    * data drifts, cell skew only accumulates; the stats view detects it,
    * and this is the remedy: retrain BOTH codebook levels on the live
    * vectors (tombstones applied — a taken-down document never re-enters
    * the model), re-assign every vector under the new model, and land
    * model + lists as index-root generation N+1 under the SAME
    * single-commit atomic swap every full build uses
    * ([[IndexTables.build]]): a reader resolves the old index (old model +
    * old assignments) or the new one, never a mix, and the superseded
    * index retires on the lease horizon. Applied tombstones are folded in
    * (their files removed once the new generation commits, like
    * [[indexVacuum]]).
    *
    * Model shape (groups, groupSize, dim) is inferred from the stored
    * model unless overridden — a rebuild may also RESIZE the index when
    * the stats say the cell count stopped fitting the corpus.
    * Self-contained: the IMI-flat lists hold full-precision vectors, so no
    * source corpus is needed. (The PQ families' stored codes are lossy;
    * they rebuild by re-running their `*IndexWrite` on the source corpus —
    * which now lands as the same reader-safe root-generation swap.)
    * Deterministic: identical training trajectory to a fresh
    * [[imiIndexWrite]] on the surviving rows (same deterministic init,
    * same order-independent decimal updates), so rebuild ≡ fresh build on
    * the live corpus bit-exactly — the `ann_imi_index_rebuild` gate pins
    * that against the full-corpus twin. Single-maintainer discipline like
    * append/compact/vacuum. Reference analog: rollover opens a new layout
    * generation when the current one stops fitting the data
    * (rados-timestore `StoreHelpers.hs:194-221`); retraining is the ANN
    * family's rollover. */
  def imiIndexRebuild(spark: org.apache.spark.sql.SparkSession,
                      path: String, iters: Int,
                      groupsOverride: Option[Int] = None,
                      groupSizeOverride: Option[Int] = None,
                      literalBudget: Long = CellLiteralBudget): Unit =
    IndexTables.foldTombstones(spark, path, always = true) { (root, tomb) =>
      val (coarse0, fine0) = imiIndexModel(spark, root)
      val groups = groupsOverride.getOrElse(coarse0.length)
      val groupSize = groupSizeOverride.getOrElse(
        if (coarse0.isEmpty) 1 else fine0.length / coarse0.length)
      val dim = fine0.headOption.map(_.length).getOrElse(0)
      // the training corpus: live rows of the CURRENT generation, cached —
      // training iterates over it and assignment reads it once more
      val corpus = graft.CacheScope.cache(tomb.antiJoin(IndexTables
        .readLive(spark, s"$root/lists")
        .select(col("nbr_id"), col("cv")), "nbr_id"))
      try imiIndexWrite(corpus, "nbr_id", "cv", path, groups, groupSize,
        iters, dim, literalBudget)
      finally graft.CacheScope.free(corpus)
    }

  /** IMI + PQ composed index — the canonical billion-vector serving
    * structure (FAISS's "IMI2xN,PQM"): [[imiTrainedTopK]]'s trained
    * two-level coarse structure prunes the scan to the probed cells'
    * inverted lists, [[pqTopK]]'s 2-byte code words + broadcast ADC tables
    * compress what the scan touches. Both levers compose — scan fraction
    * from the group/cell probe, 128× compression from PQ — and BOTH hold
    * their cost shape at large k (the IMI trainer is k-independent per
    * iteration, the probe never ranks all k cells; SCALE.md imi_parts).
    * The corpus index is (cell, pq_code) per vector — 3 narrow columns,
    * cached once; probes broadcast their ADC tables into the pruned scan,
    * so the corpus never shuffles.
    *
    * Determinism: trained-IMI assignment as [[imiTrainedTopK]]; PQ
    * code/ADC as [[pqTopK]] (deterministic literal codebooks, pinned-tie
    * argmin, r6-rounded ADC, id tie-break) — the DuckDB twin recomputes
    * the entire composition. */
  def imiPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int, groups: Int, groupSize: Int,
                iters: Int, dim: Int, nprobeGroups: Int, nprobeCells: Int,
                subs: Int = 8, ksub: Int = 4,
                literalBudget: Long = CellLiteralBudget): DataFrame = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    val rows = new CorpusRows(corpus)
    val (coarse, fine) = imiTrainRows(corpus, vecCol, groups, groupSize,
      iters, dim, literalBudget, rows)
    // corpus index: trained two-level cell + packed PQ code, pinned to its
    // own stage (see pqTopK's CollapseProject note)
    val corpusIdx = graft.CacheScope.cache(
      imiPqIndexRows(corpus, idCol, vecCol, coarse, fine, groupSize, subs,
        ksub, dim, literalBudget, Some(rows)))
    corpusIdx.count()
    imiPqServe(probes, idCol, vecCol, corpusIdx, k, coarse, fine, groupSize,
      nprobeGroups, nprobeCells, subs, ksub, dim)
  }

  /** The (nbr_id, cell, pq_code) corpus index rows shared by [[imiPqTopK]]
    * (cached in-invocation), [[imiPqIndexWrite]] (persisted) and
    * [[imiPqIndexAppend]]: the trained two-level cell assignment and
    * [[pqCodes]]' packed PQ code of the same row's vector `v` (the
    * assignment carries it through both of its plans) in one projection.
    * Over a local relation with the literal assignment the whole frame
    * folds at optimization. */
  private def imiPqIndexRows(corpus: DataFrame, idCol: String,
                             vecCol: String, coarse: Array[Array[Double]],
                             fine: Array[Array[Double]], groupSize: Int,
                             subs: Int, ksub: Int, dim: Int,
                             literalBudget: Long,
                             sharedRows: Option[CorpusRows] = None): DataFrame =
    semanticAssign2Level(corpus, idCol, vecCol, fine, groupSize,
        literalBudget, Some(coarse), sharedRows)
      .select(col("vec_id").as("nbr_id"), col("cell"),
        graft.functions.QuantOps.pqPackedCode(col("v"), pqBooks(subs, ksub,
          dim), identityForm = false).as("pq_code"))

  /** The IMI+PQ SERVING tail shared by [[imiPqTopK]] (model trained
    * in-invocation) and [[imiPqIndexSearch]] (model + code table reloaded
    * from a persisted index): the IMI group/cell fan-out of
    * [[imiTrainedTopK]], with each probe carrying its broadcast ADC table
    * instead of the full-precision vector into the pruned code scan.
    * `corpusIdx` must carry (nbr_id, cell, pq_code). */
  private def imiPqServe(probes: DataFrame, idCol: String, vecCol: String,
                         corpusIdx: DataFrame, k: Int,
                         coarse: Array[Array[Double]],
                         fine: Array[Array[Double]], groupSize: Int,
                         nprobeGroups: Int, nprobeCells: Int,
                         subs: Int, ksub: Int, dim: Int): DataFrame = {
    val probedCells = imiPqProbedCells(probes, idCol, vecCol, coarse, fine,
      groupSize, nprobeGroups, nprobeCells, subs, ksub, dim)
    // narrow fan-out count instead of probes.count() — see [[imiServe]]
    val (nProbed, _) = probedCellSet(probes.sparkSession, probedCells)
    imiPqRank(corpusIdx, probedCells, k, subs, ksub,
      adcProbeRowBytes(subs, ksub) * nProbed)
  }

  /** [[imiProbedCells]]'s IMI+PQ variant: the same row-local kernel
    * fan-out (r16 — see imiProbedCells) with each probe carrying its ADC
    * table instead of the full-precision vector. Returns
    * (query_id, dtab, cell). */
  private def imiPqProbedCells(probes: DataFrame, idCol: String,
                               vecCol: String, coarse: Array[Array[Double]],
                               fine: Array[Array[Double]], groupSize: Int,
                               nprobeGroups: Int, nprobeCells: Int,
                               subs: Int, ksub: Int, dim: Int): DataFrame =
    probes.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("pv"),
        pqDistTable(vecCol, subs, ksub, dim).as("dtab"))
      .select(col("query_id"), col("dtab"),
        explode(graft.functions.QuantOps.imiTopCells(col("pv"), coarse,
          fine, groupSize, nprobeGroups, nprobeCells)).as("cell"))

  /** The broadcast-ADC scoring tail over the probed cells' code words
    * (probe side broadcasts under [[IndexTables.MaxProbeBroadcastBytes]]). */
  private def imiPqRank(corpusIdx: DataFrame, probedCells: DataFrame,
                        k: Int, subs: Int, ksub: Int,
                        estProbeBytes: Long): DataFrame = {
    val adc = adcSum(subs, ksub)
    val scored = corpusIdx
      .join(IndexTables.maybeBroadcast(probedCells, estProbeBytes), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** Persist a trained IMI+PQ composed index ([[imiPqTopK]]'s structure,
    * [[imiIndexWrite]]'s lifecycle): `coarse/` + `fine/` hold the
    * two-level IMI codebooks, `codes/` the (nbr_id, cell, pq_code) corpus
    * index — cell for the probe-pruned scan, the packed 2-byte word for
    * the ADC scoring; the original vectors never ship. The PQ codebook
    * itself is the deterministic authoring-time literal ([[pqComponent]])
    * shared with [[pqCodes]], so only the trained IMI levels need
    * persisting. This is the canonical billion-vector serving index
    * (FAISS "IMI2xN,PQM") written once and searched many times. */
  def imiPqIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, groups: Int, groupSize: Int, iters: Int,
                      dim: Int, subs: Int = 8, ksub: Int = 4,
                      literalBudget: Long = CellLiteralBudget): Unit = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    imiRootWrite(corpus, vecCol, path, groups, groupSize, iters, dim,
        literalBudget, "codes") { (coarse, fine, rows) =>
      imiPqIndexRows(corpus, idCol, vecCol, coarse, fine, groupSize, subs,
        ksub, dim, literalBudget, Some(rows))
    }
  }

  /** Append NEW vectors to an [[imiPqIndexWrite]]-persisted index without
    * retraining: the frozen two-level model assigns the batch's cells, the
    * literal PQ codebook packs its code words — an ordinary parquet append
    * to `codes/`, the same steady-state contract as [[pqIndexAppend]] /
    * [[imiIndexAppend]]. */
  def imiPqIndexAppend(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, idCol: String, vecCol: String,
                       path: String, groupSize: Int, dim: Int,
                       subs: Int = 8, ksub: Int = 4,
                       literalBudget: Long = CellLiteralBudget): Unit =
    imiPqIndexAppendAt(spark, batch, idCol, vecCol, path, groupSize, dim,
      subs, ksub, literalBudget, IndexTables.LocalAppendMaxRows)

  /** [[imiPqIndexAppend]] under an explicit driver-side row ceiling (specs
    * reach the distributed plan with 0). A bounded batch is collected
    * once and re-enters as a local relation of known size, so the code
    * rows fold at optimization and land on the driver
    * ([[IndexTables.appendLive]]). */
  private[graft] def imiPqIndexAppendAt(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, path: String, groupSize: Int, dim: Int,
      subs: Int, ksub: Int, literalBudget: Long, maxLocalRows: Long): Unit =
    graft.Trace.phase(spark, "ann.append") {
      val root = indexLiveRoot(spark, path)
      val (coarse, fine) = imiIndexModel(spark, root)
      val vecs = batch.select(col(idCol), col(vecCol))
      val rows = IndexTables.collectBounded(vecs, maxLocalRows)
      val (input, known) =
        if (rows.length > maxLocalRows) (batch, None)
        else (IndexTables.local(spark, rows.toSeq, vecs.schema),
          Some(rows.length.toLong))
      IndexTables.appendLive(imiPqIndexRows(input, idCol, vecCol, coarse,
          fine, groupSize, subs, ksub, dim, literalBudget,
          Some(new CorpusRows(input, known))),
        s"$root/codes")
    }

  /** Serve top-k from an [[imiPqIndexWrite]]-persisted index: reload the
    * IMI levels (bounded k×dim doubles), ADC-scan only the probed cells'
    * stored code words — [[imiPqTopK]]'s serving shape with the training
    * cost paid once at write time. */
  def imiPqIndexSearch(spark: org.apache.spark.sql.SparkSession,
                       probes: DataFrame, idCol: String, vecCol: String,
                       path: String, k: Int, groupSize: Int,
                       nprobeGroups: Int, nprobeCells: Int, dim: Int,
                       subs: Int = 8, ksub: Int = 4): DataFrame = {
    val root = indexLiveRoot(spark, path) // one resolution per serve
    val (coarse, fine) = imiIndexModel(spark, root)
    // bounded probed-cell set → static partition predicate (see
    // [[imiIndexSearch]]): the ADC scan touches ~nprobe/k of the stored
    // code files
    val probedCells = imiPqProbedCells(probes, idCol, vecCol, coarse, fine,
      groupSize, nprobeGroups, nprobeCells, subs, ksub, dim)
    val (nProbed, cellSet) = probedCellSet(spark, probedCells)
    val corpusIdx = IndexTables.tombstones(spark, path).antiJoin(IndexTables
      .readLive(spark, s"$root/codes")
      .filter(col("cell").isin(cellSet.map(Int.box): _*))
      .select(col("nbr_id"), col("cell"), col("pq_code")), "nbr_id")
    imiPqRank(corpusIdx, probedCells, k, subs, ksub,
      adcProbeRowBytes(subs, ksub) * nProbed)
  }

  /** Two-level (hierarchical) SemDeDup assignment — the escape hatch for
    * the n·k quadratic that the paper's k ∝ n cell sizing creates (the
    * published inverted-multi-index / hierarchical-k-means coarse
    * quantization): rank-1 against `k / groupSize` COARSE centroids (the
    * exact group means of the fine codebook), then rank-1 among only the
    * winning group's `groupSize` fine centroids. Assignment flops drop
    * from n·k to n·(k/g + g) — 18× at k=1280, g=40 — while the pairing
    * term stays linear in n.
    *
    * This is an APPROXIMATE assignment (the best fine cell can live in a
    * losing coarse group — the standard IMI trade); the two-level rule
    * itself is exact and deterministic, ties to the lowest group/cell, and
    * is what the DuckDB twin recomputes. Literal path evaluates ONLY the
    * winning group's fine scores via a CASE chain; past the literal budget
    * both levels ride broadcast-codebook joins with narrow scored streams,
    * plan O(1) in k. */
  def semanticDedup2LevelWith(corpus: DataFrame, idCol: String,
                              vecCol: String, threshold: Double,
                              cents: Array[Array[Double]], groupSize: Int,
                              maxCell: Int = Dedup.DefaultMaxBucket,
                              literalBudget: Long = CellLiteralBudget): DataFrame =
    semanticPairTail(
      semanticAssign2Level(corpus, idCol, vecCol, cents, groupSize,
        literalBudget),
      threshold, maxCell)

  /** The two-level rank-1 assignment shared by [[semanticDedup2LevelWith]]
    * and [[hardNegatives]]'s scale path — coarse argmax over k/g group
    * means, then fine argmax within the winning group; see
    * [[semanticDedup2LevelWith]] for the cost model and the IMI trade. */
  private[graft] def semanticAssign2Level(corpus: DataFrame, idCol: String,
                              vecCol: String,
                              cents: Array[Array[Double]], groupSize: Int,
                              literalBudget: Long = CellLiteralBudget,
                              coarseOverride: Option[Array[Array[Double]]] = None,
                              sharedRows: Option[CorpusRows] = None)
                              : DataFrame = {
    val rows = sharedRows.getOrElse(new CorpusRows(corpus))
    val cells = cents.length
    require(cells % groupSize == 0, "cells must divide into equal groups")
    val dim = cents.headOption.map(_.length).getOrElse(0)
    // default: exact group means of the flat codebook; a TRAINED coarse
    // quantizer ([[imiTrain]]) overrides — same assignment rule either way
    val coarse = coarseOverride.getOrElse(coarseCentroids(cents, groupSize))
    require(coarse.length * groupSize == cells,
      "coarse quantizer size must be cells / groupSize")
    val groups = coarse.length
    val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val assigned0 =
      if (literalAssignFits(cells.toLong, dim, literalBudget, rows))
        // coarse argmax-dot + fine argmax-dot within the routed group,
        // fused in the [[graft.functions.ImiAssignDotCells]] kernel (r16):
        // replaces the coarse array_position(max) + per-group CASE chain —
        // one shared compiled class, plan O(1) in k·dim, and the CASE
        // chain's alias-inlining trap (the coarse argmax re-inlined into
        // every branch condition) disappears outright. Same ascending dot
        // folds and ties-to-lowest rules — bit-identical cells.
        v.select(col("vec_id"),
          graft.functions.QuantOps.imiAssignDot(col("v"), coarse, cents,
            groupSize).as("cell"), col("v"))
      else {
        val spark = corpus.sparkSession
        val crid = graft.CacheScope.cache(
          v.withColumn("__rid", monotonically_increasing_id()))
        crid.count()
        val coarseRows = centroidRows(spark, coarse)
          .withColumnRenamed("cell", "grp")
        val win = crid.crossJoin(broadcast(coarseRows))
          .select(col("__rid"), col("grp"),
            dot(col("v"), col("cent")).as("score"))
          .groupBy(col("__rid"))
          .agg(max_by(col("grp"),
            struct(col("score"), (-col("grp")).as("ng"))).as("grp"))
        val fineRows = centroidRows(spark, cents)
          .withColumn("grp", expr(s"cell div $groupSize").cast("int"))
        val best = crid.join(win, Seq("__rid"))
          .join(broadcast(fineRows), Seq("grp"))
          .select(col("__rid"), col("cell"),
            dot(col("v"), col("cent")).as("score"))
          .groupBy(col("__rid"))
          .agg(max_by(col("cell"),
            struct(col("score"), (-col("cell")).as("nc"))).as("cell"))
        crid.join(best, Seq("__rid"))
          .select(col("vec_id"), col("cell"), col("v"))
      }
    assigned0
  }

  /** Contrastive hard-example mining — the curation step a metric-learning
    * / embedding-training pipeline runs before training: per vector, the
    * most similar DIFFERENT-label neighbor (the hard negative, the pair
    * the loss learns most from) and the most similar same-label neighbor
    * (the nearest positive), plus the margin between them. Neighborhoods
    * are CELL-SCOPED exactly like [[semanticDedupWith]] — rank-1 coarse
    * assignment, pairs only within a cell, never corpus×corpus — so the
    * declared shape IS the scale shape (the hardest neighbor overall is
    * overwhelmingly in the same coarse cell; IVF-style recall trade).
    *
    * Determinism: cosine via cached norms (one dot per pair), winners pin
    * to (highest sim, lowest neighbor id); vectors whose cell lacks a
    * same-/different-label peer (or that sit in an over-`maxCell` hot
    * cell) emit NULLs on that side — visible, not dropped. */
  def hardNegatives(corpus: DataFrame, idCol: String, labelCol: String,
                    vecCol: String, cents: Array[Array[Double]],
                    maxCell: Int = Dedup.DefaultMaxBucket,
                    literalBudget: Long = CellLiteralBudget,
                    // Some(g): route assignment through the two-level
                    // coarse-then-fine rule — the SAME n·k→n·(k/g+g)
                    // escape hatch SemDeDup uses at paper-scale k (the
                    // probe shows the flat argmax re-creates that
                    // quadratic here); g=1 degenerates to flat exactly
                    groupSize: Option[Int] = None): DataFrame = {
    val rows = new CorpusRows(corpus)
    val assigned0 = groupSize.fold(
      semanticAssign(corpus, idCol, vecCol, cents, literalBudget, rows))(g =>
      semanticAssign2Level(corpus, idCol, vecCol, cents, g, literalBudget,
        sharedRows = Some(rows)))
    // labels ride a key-narrow join — the wide v array never re-shuffles
    val labeled = assigned0.join(
      corpus.select(col(idCol).as("vec_id"), col(labelCol).as("label")),
      "vec_id")
    val cached = graft.CacheScope.cache(labeled.select(col("vec_id"), col("label"),
      col("cell"), col("v"), norm(col("v")).as("n")))
    cached.count()
    val okCells = cached.groupBy(col("cell")).count()
      .filter(col("count") <= maxCell)
      .select(col("cell"))
    val inPlay = cached.join(broadcast(okCells), Seq("cell"))
    // ONE streamed pass over the scored pairs: both winners fall out of a
    // single hash aggregate with map-side partials — `max_by` skips rows
    // whose ordering is NULL, so the two `when` guards split the pair
    // stream without materializing it. (The first cut CACHED the scored
    // pairs for two filtered aggregates: Σ cell² rows — 320M at the 640k
    // probe, ~19 GB — is exactly the frame you must never persist; the
    // single-pass form keeps pairs pipeline-only, and the probe that
    // OOM'd now runs at the default heap.) Pairs are scored ORDERED
    // (a ≠ b, 2× the dots): scoring each a < b pair once and repackaging
    // both directions through a generator lost at dim 64 AND dim 256
    // (13.8 vs 18.1 s at 160k/d256, SCALE.md) — the explode materializes
    // rows outside whole-stage codegen, which costs more than the dots.
    val both = inPlay
      .select(col("cell"), col("vec_id").as("anchor"),
        col("label").as("anchor_label"), col("v").as("av"), col("n").as("an"))
      .join(inPlay.select(col("cell"), col("vec_id").as("nbr"),
        col("label").as("nbr_label"), col("v").as("bv"), col("n").as("bn")),
        "cell")
      .filter(col("anchor") =!= col("nbr"))
      .select(col("anchor"), col("anchor_label"), col("nbr"),
        col("nbr_label"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
          .as("sim"))
    val same = col("anchor_label") === col("nbr_label")
    val payload = struct(col("nbr"), col("sim"))
    val ord = struct(col("sim"), (-col("nbr")).as("nid"))
    val agg = both.groupBy(col("anchor"))
      .agg(max_by(payload, when(same, ord)).as("pos"),
        max_by(payload, when(!same, ord)).as("neg"))
      .select(col("anchor").as("vec_id"),
        col("pos.nbr").as("pos_id"), col("pos.sim").as("pos_sim"),
        col("neg.nbr").as("neg_id"), col("neg.sim").as("neg_sim"))
    cached.select(col("vec_id"), col("label"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("pos_id"), col("pos_sim"),
        col("neg_id"), col("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 6).as("margin"))
  }

  /** The TRAINED SemDeDup composition the paper actually runs: k-means the
    * quantizer on the corpus ([[kmeansTrain]]), then cluster-scoped
    * keep-first dedup against the trained codebook
    * ([[semanticDedupWith]] — collected k×dim model state, broadcast-join
    * assignment past the literal budget). */
  def semanticDedupTrained(corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, cells: Int, iters: Int,
                           dim: Int,
                           maxCell: Int = Dedup.DefaultMaxBucket,
                           literalBudget: Long = CellLiteralBudget): DataFrame = {
    val cents = Array.ofDim[Double](cells, dim)
    val rows = new CorpusRows(corpus)
    kmeansTrainRows(corpus, vecCol, cells, iters, dim, literalBudget,
        centroidComponent, rows).collect().foreach { r =>
      cents(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("c_val")
    }
    // rows.n is known by here at zero extra cost: either the literal-fit
    // check or the join path's cache materialization resolved it
    semanticDedupWith(corpus, idCol, vecCol, threshold, cents, maxCell,
      literalBudget, Some(rows.n))
  }

  /** Per-subspace k-means PQ codebook training, FUSED: all `subs`
    * codebooks train together in ONE job chain per iteration (the
    * production shape — the earlier per-subspace composition ran subs
    * sequential trainings, each re-scanning the corpus slice: subs× the
    * scheduler round-trips and scans for the same model, VERDICT r6 #4).
    * Initialization is the untrained [[pqComponent]] literals (so iters=0
    * would be the untrained codebook). Returns books(s)(c)(d).
    *
    * Per iteration:
    *  - ASSIGN row-locally: per subspace s, argmin over ksub centroids of
    *    the L2² dot-identity over the s-th subvector slice — the EXACT
    *    dist doubles and (dist, cell) tie rule of [[kmeansTrain]]'s
    *    literal path, so the fused model is bit-identical to the
    *    sequential per-subspace composition (spec-pinned against
    *    [[pqTrainBooksSequential]]); all subs argmins ride one projection.
    *  - UPDATE: ONE posexplode of the full vector to (s, cell, d, x) and
    *    ONE hash aggregate of exact DECIMAL(20,8) sums keyed
    *    (s, cell, d) — map-side combine to ≤ subs·ksub·ds rows per
    *    partition, mean rounded like [[kmeansTrain]].
    *
    * The fused plan embeds every book as literals — ksub·dim doubles
    * total; past [[CellLiteralBudget]] it falls back to the sequential
    * composition, whose inner [[kmeansTrain]] routes through the
    * broadcast-codebook join. An empty (s, cell) keeps its previous
    * centroid, exactly like the sequential path's coalesce-to-previous. */
  def pqTrainBooks(corpus: DataFrame, vecCol: String, subs: Int, ksub: Int,
                   iters: Int, dim: Int,
                   literalBudget: Long = CellLiteralBudget): Array[Array[Array[Double]]] = {
    require(iters >= 1)
    if (ksub.toLong * dim > literalBudget)
      return pqTrainBooksSequential(corpus, vecCol, subs, ksub, iters, dim)
    val ds = dim / subs
    val books = Array.tabulate(subs, ksub, ds)((c0, c1, c2) => pqComponent(c0, c1, c2))
    val v = corpus.select(asDouble(col(vecCol)).as("v"))
    def iterate(): Array[org.apache.spark.sql.Row] = {
      // Stage split measured at 320k (SCALE.md round 7): the heavy
      // per-subspace argmins live in a codegen'd PROJECT; the generator
      // only REPACKAGES the precomputed cells + slices into (s, cell,
      // subv) structs, and the second explode replicates scalars. The
      // same pipeline with the argmin embedded IN the generator ran 15×
      // slower (generator expressions evaluate outside whole-stage
      // codegen), and carrying a codes array past a 64-way posexplode of
      // the full vector paid ~4× in replication — 1.4 s vs 23 s vs 5.5 s
      // for identical results.
      // r16: per-subspace argmin via the identity-form
      // [[graft.functions.PqCodeAtSub]] kernel — the iteration's codebook
      // rides the reference array (the struct-array literal form compiled
      // a unique whole-stage class per iteration), same folds and
      // ties-to-lowest rule, bit-identical cells. `books` is mutated
      // between iterations, so each iteration passes a deep copy.
      val iterBooks = books.map(_.map(_.clone))
      def cellEx(s: Int): Column =
        graft.functions.QuantOps.pqCodeAt(col("v"), iterBooks,
          identityForm = true, s)
      val assigned = v.select(
        (0 until subs).map(s => cellEx(s).as(s"c$s")) :+ col("v"): _*)
      assigned.select(explode(array((0 until subs).map(s =>
          struct(lit(s).as("s"), col(s"c$s").as("cell"),
            slice(col("v"), s * ds + 1, ds).as("subv"))): _*)).as("sc"))
        .select(col("sc.s").as("s"), col("sc.cell").as("cell"),
          posexplode(col("sc.subv")).as(Seq("d", "x")))
        .groupBy(col("s"), col("cell"), col("d"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("x").cast("decimal(20,8)")).as("sx"))
        .select(col("s"), col("cell"), col("d"),
          (floor(col("sx").cast("double") / col("n_members") * 1e6 + 0.5) / 1e6)
            .as("c_val"))
        .collect()
    }
    for (_ <- 1 to iters) {
      iterate().foreach { r =>
        books(r.getAs[Int]("s"))(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
          r.getAs[Double]("c_val")
      }
    }
    books
  }

  /** The per-subspace composition [[pqTrainBooks]] fuses: subspace s's
    * codebook is [[kmeansTrain]] on the s-th subvector slice. Retained as
    * the over-budget fallback (its inner trainer handles the broadcast-
    * codebook join path) and as the spec's bit-identity reference for the
    * fused trainer. */
  private[graft] def pqTrainBooksSequential(corpus: DataFrame, vecCol: String,
                                            subs: Int, ksub: Int, iters: Int,
                                            dim: Int): Array[Array[Array[Double]]] = {
    val ds = dim / subs
    // all subs slices share the corpus cardinality — one decision count,
    // not subs of them (ADVICE r12)
    lazy val n = corpus.count()
    Array.tabulate(subs) { s =>
      val sub = corpus.select(slice(col(vecCol), s * ds + 1, ds).as("subv"))
      val book = Array.tabulate(ksub, ds)((c, d) => pqComponent(s, c, d))
      kmeansTrain(sub, "subv", ksub, iters, ds,
          init = (c, d) => pqComponent(s, c, d), nRows = Some(n)).collect()
        .foreach { r =>
          book(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
            r.getAs[Double]("c_val")
        }
      book
    }
  }

  /** Trained-codebook subspace distance: the dot-product identity
    * `dot(x,x) − 2·dot(x,c) + cc` over the s-th subvector slice — the form
    * a SQL twin recomputes bit-identically when centroids are computed
    * data (see [[pqTrainedTopK]]). */
  /** Packed mixed-radix code word from trained codebooks — argmin per
    * subspace of the dot-identity distance `(x·x − 2·(x·c)) + cc`, ties to
    * the lowest code. r16: the [[graft.functions.PqPackedCode]] kernel in
    * its identity form — same folds/association as the former
    * `trainedSubDist` column chain, books as a reference object (one
    * compiled class across every trained codebook). */
  private def trainedPacked(books: Array[Array[Array[Double]]], ds: Int,
                            subs: Int, ksub: Int)(vc: Column): Column =
    graft.functions.QuantOps.pqPackedCode(vc, books, identityForm = true)

  /** Probe-side ADC table from trained codebooks (subs×ksub distances,
    * (s, c) row order) — the identity-form [[graft.functions.PqAdcTable]]
    * kernel. */
  private def trainedDtab(books: Array[Array[Array[Double]]], ds: Int,
                          subs: Int, ksub: Int)(vc: Column): Column =
    graft.functions.QuantOps.pqAdcTable(vc, books, identityForm = true)

  /** PQ-ADC top-k with a TRAINED codebook — [[pqTrainBooks]] feeding the
    * [[pqTopK]] serving shape: train → encode → ADC-scan composed
    * in-engine, the full production PQ lifecycle.
    *
    * Subspace distances use the dot-product identity
    * `dot(x,x) − 2·dot(x,c) + cc` (the [[kmeansTrain]] assign form, with
    * the codebook self-dots precomputed driver-side) rather than
    * [[pqCodes]]'s per-component (x−c)² fold — the identity is the form a
    * DuckDB twin can recompute bit-identically when the centroids are
    * SQL-computed data instead of authoring-time literals. Encode stays a
    * row-local projection; codes are cached narrow exactly like
    * [[pqTopK]]. */
  def pqTrainedTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, k: Int, subs: Int = 8, ksub: Int = 4,
                    iters: Int = 2, dim: Int = 64): DataFrame = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    val ds = dim / subs
    val books = pqTrainBooks(corpus, vecCol, subs, ksub, iters, dim)
    val packed = trainedPacked(books, ds, subs, ksub)(col("cv"))
    val codes = graft.CacheScope.cache(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
        .select(col("nbr_id"), packed.as("pq_code")))
    codes.count()
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("pv"))
      .select(col("query_id"),
        trainedDtab(books, ds, subs, ksub)(col("pv")).as("dtab"))
    val adc = adcSum(subs, ksub)
    val scored = codes.crossJoin(broadcast(p))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** Persist a trained PQ index as two plain parquet tables — the
    * production serving split (train/encode ONCE, search many): `books/`
    * holds the codebooks as (s, c, d, comp) rows (doubles are bit-exact
    * through parquet, so a reloaded model scores identically), `codes/`
    * the 2-byte-code corpus as (nbr_id, pq_code). No custom file format:
    * the index IS a table, so it inherits partitioning, predicate
    * pushdown, and every deployment path parquet already has. The code
    * table is generational ([[IndexTables]]) like every index data table:
    * appends accumulate in the live generation, [[indexCompact]] merges
    * them reader-safely into the next. */
  def pqIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                   path: String, subs: Int = 8, ksub: Int = 4,
                   iters: Int = 2, dim: Int = 64): Unit = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexTables.build(spark, path) { root =>
      val books = pqTrainBooks(corpus, vecCol, subs, ksub, iters, dim)
      val rows = for {
        s <- books.indices; c <- books(s).indices; d <- books(s)(c).indices
      } yield (s, c, d, books(s)(c)(d))
      val ds = dim / subs
      // overlapped independent writes under the uncommitted root, like
      // [[imiIndexWrite]] (guide §2.6)
      graft.Par.run(
        () => spark.createDataset(rows).toDF("s", "c", "d", "comp")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/books"),
        () => corpus.select(col(idCol).as("nbr_id"),
            trainedPacked(books, ds, subs, ksub)(col(vecCol)).as("pq_code"))
          .write.mode("overwrite")
          .parquet(IndexTables.writeDir(s"$root/codes")))
    }
  }

  /** Append NEW vectors to a [[pqIndexWrite]]-persisted index WITHOUT
    * retraining — the steady-state maintenance path of a production
    * vector index (retraining on every arrival batch is neither possible
    * nor wanted; codebooks stay frozen until a scheduled re-train): the
    * stored model is reloaded, the batch is encoded by the SAME row-local
    * projection the original build used, and the codes land as an
    * ordinary parquet append. Quantization error for late vectors is the
    * standard frozen-codebook drift trade. */
  def pqIndexAppend(spark: org.apache.spark.sql.SparkSession,
                    batch: DataFrame, idCol: String, vecCol: String,
                    path: String, subs: Int = 8, ksub: Int = 4,
                    dim: Int = 64): Unit =
    graft.Trace.phase(spark, "ann.append") {
      val ds = dim / subs
      val root = indexLiveRoot(spark, path)
      val books = pqIndexModel(spark, root, subs, ksub, ds)
      IndexTables.appendLive(batch.select(col(idCol).as("nbr_id"),
          trainedPacked(books, ds, subs, ksub)(col(vecCol)).as("pq_code")),
        s"$root/codes")
    }

  /** Serve top-k from a [[pqIndexWrite]]-persisted index: reload the
    * model (subs×ksub×ds doubles — tiny), scan the stored code table
    * with each probe's broadcast ADC distance table. The search never
    * touches the original vectors — the serving cost is the code scan,
    * exactly [[pqTopK]]'s shape with the index read from disk. */
  /** Reload a persisted PQ codebook ([[pqIndexWrite]]'s `books/` under a
    * resolved index ROOT generation) — bounded subs×ksub×ds state,
    * session-cached like [[imiIndexModel]]. */
  private def pqIndexModel(spark: org.apache.spark.sql.SparkSession,
                           root: String, subs: Int, ksub: Int,
                           ds: Int): Array[Array[Array[Double]]] =
    cachedModel(spark, Seq(s"$root/books")) {
      val books = Array.ofDim[Double](subs, ksub, ds)
      graft.Trace.phase(spark, "ann.model.load")(
          IndexTables.read(spark, s"$root/books").collect()).foreach { r =>
        books(r.getAs[Int]("s"))(r.getAs[Int]("c"))(r.getAs[Int]("d")) =
          r.getAs[Double]("comp")
      }
      books
    }

  def pqIndexSearch(spark: org.apache.spark.sql.SparkSession,
                    probes: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int, subs: Int = 8, ksub: Int = 4,
                    dim: Int = 64): DataFrame = {
    val ds = dim / subs
    val root = indexLiveRoot(spark, path) // one resolution per serve
    val books = pqIndexModel(spark, root, subs, ksub, ds)
    val codes = IndexTables.tombstones(spark, path).antiJoin(
      IndexTables.readLive(spark, s"$root/codes"), "nbr_id")
    val p = probes.select(col(idCol).as("query_id"),
      trainedDtab(books, ds, subs, ksub)(col(vecCol)).as("dtab"))
    val adc = adcSum(subs, ksub)
    val scored = codes.crossJoin(broadcast(p))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** Fully-trained IVF-PQ — the complete trained production index:
    * [[kmeansTrain]]'s coarse codebook prunes cells, [[pqTrainBooks]]'
    * per-subspace fine codebooks compress the scan, composed exactly like
    * [[ivfPqTopK]] (corpus index = (cell, 2-byte code) in one cached
    * row-local pass; probes expand to top-nprobe cells carrying their
    * trained ADC tables; the cell join scans ~nprobe/cells of the codes).
    * Both codebooks are collected model state re-embedded as literals at
    * demo scale; past [[CellLiteralBudget]] the coarse assignment would
    * ride [[centroidRows]] like [[ivfTopKWith]]. */
  def ivfPqTrainedTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, k: Int, cells: Int = 8,
                       nprobe: Int = 2, subs: Int = 8, ksub: Int = 4,
                       iters: Int = 2, dim: Int = 64): DataFrame = {
    require(Integer.bitCount(ksub) == 1, "ksub must be a power of two")
    val ds = dim / subs
    val cents = Array.ofDim[Double](cells, dim)
    kmeansTrain(corpus, vecCol, cells, iters, dim).collect().foreach { r =>
      cents(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Double]("c_val")
    }
    val books = pqTrainBooks(corpus, vecCol, subs, ksub, iters, dim)
    val c = corpus.select(col(idCol).as("nbr_id"), asDouble(col(vecCol)).as("cv"))
    val corpusIdx = graft.CacheScope.cache(
      c.withColumn("cell",
          graft.functions.QuantOps.argMaxDot(col("cv"), cents))
        .select(col("nbr_id"), col("cell"),
          trainedPacked(books, ds, subs, ksub)(col("cv")).as("pq_code")))
    corpusIdx.count()
    val p = probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("pv"))
    val probeCells = p
      .withColumn("dtab", trainedDtab(books, ds, subs, ksub)(col("pv")))
      .select(col("query_id"), col("dtab"),
        explode(graft.functions.QuantOps.topCellsByDot(col("pv"), cents,
          nprobe)).as("cell"))
    val adc = adcSum(subs, ksub)
    val scored = corpusIdx.join(broadcast(probeCells), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (floor(adc * 1e6 + 0.5) / 1e6).as("adc_dist"))
    adcTopK(scored, k)
  }

  /** Int8 scalar quantization audit — the compression step an ANN index
    * applies before storing vectors (4× smaller than float32), plus the
    * reconstruction-error report that decides whether the codebook is
    * usable. Per vector: min/max range, code q = ⌊(x−mn)/(mx−mn)·255 + ½⌋
    * per component, the integer code sum and a position-weighted checksum
    * (both EXACT, so the gate pins every code), and the max absolute
    * reconstruction error.
    *
    * Shape: posexplode → per-vector min/max as unordered WINDOW aggregates
    * (one shuffle on the vector id, no join) → codes/errors as pure double
    * arithmetic → one hash aggregate. Relational rather than array-lambda
    * on purpose: higher-order lambdas evaluate interpreted and Catalyst
    * inlines aliases into them, re-running the range computation per
    * element. All double expressions mirror the oracle twin token-for-token
    * (float inputs widen to identical doubles; same ops = same bits);
    * the one float statistic that survives to the output (max_abs_err)
    * gets floor-rounding. */
  def quantizeStats(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVec = Window.partitionBy(col("vid"))
    val scale = (col("mx") - col("mn")) / 255
    val q = when(col("mx") > col("mn"),
      floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255 + 0.5))
      .otherwise(lit(0L))
    corpus.select(col(idCol).as("vid"), posexplode(col(vecCol)))
      .toDF("vid", "pos", "xf")
      .select(col("vid"), col("pos"), col("xf").cast("double").as("x"))
      .withColumn("mn", min(col("x")).over(byVec))
      .withColumn("mx", max(col("x")).over(byVec))
      .withColumn("q", q)
      .withColumn("err", abs(col("x") - (col("mn") + col("q") * scale)))
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_dims"),
        min(col("x")).as("mn"), max(col("x")).as("mx"),
        sum(col("q")).as("q_sum"),
        sum(col("q") * (col("pos") + 1)).as("q_checksum"),
        (floor(max(col("err")) * 1e8 + 0.5) / 1e8).as("max_abs_err"))
      .withColumnRenamed("vid", "vec_id")
  }
}
