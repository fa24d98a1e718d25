package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

import graft.Trace

/** Persisted BM25 keyword-retrieval index — the lexical twin of the
  * [[Similarity]] vector-index family, with the same storage lifecycle:
  * generational tables, frozen-stats appends, compaction, tombstone
  * deletes and vacuum all follow [[IndexTables]].
  *
  * A training-data pipeline needs keyword retrieval alongside embedding
  * ANN (hybrid search, decontamination by query, targeted corpus audits —
  * "show me every document matching these eval-set phrases"), and the
  * reference engine's whole design is the same shape: a write-once,
  * append-only store whose reads prune to the objects a query touches
  * (rados-timestore `TimeStore.hs:139-156` bucket pruning;
  * `StoreHelpers.hs:194-221` keeps objects file-sized). Here the "bucket"
  * is a term's postings row-group.
  *
  * Data tables under the index root (all generational, see
  * [[IndexTables]]):
  *   - `postings/` — (term64, doc, tf, dl): one row per distinct
  *     (document, term). `dl` (the document's token length) is
  *     DENORMALIZED into the postings so serving NEVER joins a
  *     corpus-sized side table — the scan that feeds scoring already
  *     carries everything per-row scoring needs. Written range-clustered
  *     by `term64` so a query's pushed `term64 IN (…)` predicate skips
  *     row groups by min/max stats — the store's `targetObjs` pruning
  *     pattern applied to text.
  *   - `vocab/` — (term64, df) document-frequency DELTAS: each
  *     write/append batch contributes its own per-term distinct-doc
  *     counts. Batches hold DISJOINT doc sets (the append contract, same
  *     as [[Similarity.imiIndexAppend]]), so serving df is a plain SUM —
  *     appends never read or rewrite held statistics.
  *   - `doclens/` — (doc, dl) bookkeeping: lets a takedown capture the
  *     deleted docs' length stats at delete time and lets vacuum
  *     recompute globals; serving never touches it.
  *   - `global/` — (n, len_sum) one delta row per batch; serving SUMs to
  *     the corpus size and average document length.
  * Pending deletes are `tombstones/` rows (doc, dl); see
  * [[bm25IndexDelete]].
  *
  * Scoring is Okapi BM25 (k1 = 1.2, b = 0.75, the canonical constants;
  * Robertson/Sparck Jones idf in the +1 form that keeps every weight
  * positive). Per-term contributions are rounded to 8 dp and summed as
  * DECIMAL(20,8) — decimal sums are order-independent, so the score is
  * deterministic under any partitioning and matches the DuckDB twin
  * hash-exactly (the engine's standing decimal-determinism discipline).
  * Query terms are DISTINCT per query (repeated query words score once).
  *
  * Terms are stored as `xxhash64` of the lowercased `\w+` token — 8 bytes
  * per posting key instead of the string, the same trade as the dedup
  * index's hashed shingles (`Dedup.dedupIndexWrite`): results differ from
  * string-keyed scoring only on a 2⁻⁶⁴-probability hash collision.
  *
  * 100 TB shape: a query batch touches only its terms' postings (pushed
  * In-filter → row-group skip; the scan is O(matched postings), not
  * O(corpus)); the query side and per-term stats broadcast under the
  * probe-size gate; the single shuffle is the per-(query, doc) partial
  * aggregation of matched postings. Nothing corpus-sized ever shuffles
  * or collects — the only driver-side state is the query batch's term-id
  * set (the pushed predicate, bounded like [[Similarity]]'s probed-cell
  * set) and per-table byte sizes for broadcast gating.
  */
object TextIndex {

  // Okapi BM25 constants (Robertson et al., TREC-3): k1 = 1.2, b = 0.75.
  // They appear as inline literals in [[scoreTopK]] so the Spark
  // expression and the DuckDB twin parse the identical decimal strings.

  private def tokens(text: Column): Column = Dedup.tokens(text)

  /** Per-document token rows with the doc length carried along:
    * (doc, dl, term64). `explode` (not `_outer`) drops token-less docs
    * here — they hold no postings — while [[lens]] keeps them in the
    * corpus statistics. */
  private def termRows(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).cast("long").as("doc"),
        tokens(col(textCol)).as("ts"))
      .select(col("doc"), size(col("ts")).as("dl"),
        explode(col("ts")).as("term"))
      .select(col("doc"), col("dl"), xxhash64(col("term")).as("term64"))

  /** (doc, dl) for EVERY doc of the batch — empty documents included
    * (they count toward n and len_sum exactly as the twin's corpus
    * statistics do). */
  private def lens(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).cast("long").as("doc"),
      size(tokens(col(textCol))).as("dl"))

  /** (term64, doc, tf, dl) — tf by grouping the exploded rows; dl rides
    * the grouping key (functionally dependent on doc) so no join ever
    * re-attaches it. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String) =
    termRows(docs, idCol, textCol)
      .groupBy(col("term64"), col("doc"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term64"), col("doc"), col("tf"), col("dl"))

  /** The four tables over `d` (the documents) and `p` (their postings),
    * as the distributed plan writes them: (table, frame). */
  private def tableFrames(d: DataFrame, p: DataFrame, idCol: String,
                          textCol: String): Seq[(String, DataFrame)] = {
    val l = lens(d, idCol, textCol)
    Seq(
      "postings" -> p.repartitionByRange(col("term64"))
        .sortWithinPartitions(col("term64"), col("doc")),
      "vocab" -> p.groupBy(col("term64")).agg(count(lit(1)).as("df")),
      "doclens" -> l,
      "global" -> l.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("len_sum")))
  }

  /** Write the four tables through `write(frame, table)` — a fresh nested
    * generation on build/vacuum, the live one on a distributed append.
    *
    * The four writes are INDEPENDENT once the shared posting rows are
    * materialized (they land in four disjoint directories and all read the
    * two scope-cached frames), so they run OVERLAPPED from driver threads
    * (guide §2.6 — actions are only sequential because the driver calls
    * them sequentially; concurrent jobs back-fill each other's task tails
    * and scheduling/commit floors). Atomicity is unchanged: the caller's
    * single root `_SUCCESS` ([[IndexTables.build]]) still gates
    * visibility of ALL four tables, and any write failure propagates after
    * every in-flight write has settled — a partial overlap failure leaves
    * exactly what a partial sequential failure left, an uncommitted root
    * generation. */
  private def writeTables(docs: DataFrame, idCol: String, textCol: String,
                          root: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val d = graft.CacheScope.cache(docs)
    d.count() // three consumers below
    val p = graft.CacheScope.cache(postingsOf(d, idCol, textCol))
    p.count() // materialize ONCE before the overlapped consumers race it
    graft.Par.run(tableFrames(d, p, idCol, textCol).map { case (t, df) =>
      () => write(df, s"$root/$t") }: _*)
  }

  /** Build the persisted BM25 index from scratch — tokenize, hash, count,
    * and land all four tables beneath ONE index-root generation committed
    * by a single `_SUCCESS` ([[IndexTables.build]] — the ANN
    * families' r14 discipline: the statistics tables must never be read
    * against another generation's postings, and a rebuild/fresh write
    * over an existing path must swap the WHOLE index atomically). One
    * shuffle each for the tf grouping and the range clustering;
    * statistics are plain aggregates of the same cached posting rows. */
  def bm25IndexWrite(docs: DataFrame, idCol: String, textCol: String,
                     path: String): Unit =
    IndexTables.build(docs.sparkSession, path)(root =>
      writeTables(docs, idCol, textCol, root)((df, t) =>
        df.write.mode("overwrite").parquet(IndexTables.writeDir(t))))

  /** Append a NEW batch of documents (doc ids disjoint from every held
    * batch — the frozen-stats contract: df/global are additive deltas, so
    * the held tables are never read or rewritten) into each table's live
    * generation under the live index root. A bounded batch builds its
    * rows on the driver ([[appendLocal]]); a bigger one runs the
    * distributed plan. Appends fragment; run [[bm25IndexCompact]] on the
    * maintenance cadence. */
  def bm25IndexAppend(spark: SparkSession, docs: DataFrame, idCol: String,
                      textCol: String, path: String): Unit =
    bm25IndexAppendAt(spark, docs, idCol, textCol, path,
      IndexTables.LocalAppendMaxRows)

  /** [[bm25IndexAppend]] under an explicit driver-side row ceiling (specs
    * reach the distributed plan with 0). */
  private[graft] def bm25IndexAppendAt(spark: SparkSession, docs: DataFrame,
                                       idCol: String, textCol: String,
                                       path: String, maxLocalRows: Long)
      : Unit = Trace.phase(spark, "bm25.append") {
    val root = IndexTables.liveDir(spark, path)
    // per doc: id, token count and each token's term hash
    val rows = IndexTables.collectBounded(
      docs.select(col(idCol).cast("long").as("doc"),
          tokens(col(textCol)).as("ts"))
        .select(col("doc"), size(col("ts")).as("dl"),
          transform(col("ts"), xxhash64(_)).as("h")),
      maxLocalRows)
    if (rows.length > maxLocalRows)
      writeTables(docs, idCol, textCol, root)(IndexTables.appendLive)
    else appendLocal(spark, docs, idCol, textCol, root, rows)
  }

  /** The driver side of [[bm25IndexAppend]] over the batch's collected
    * (doc, dl, term hashes) rows, each hash Spark's `xxhash64` of a token
    * as the distributed plan computes it: the driver only counts and
    * sorts, so each table holds exactly the rows the distributed plan
    * writes, postings sorted by (term64, doc) as its range clustering
    * sorts them. */
  private def appendLocal(spark: SparkSession, docs: DataFrame, idCol: String,
                          textCol: String, root: String,
                          rows: Array[Row]): Unit = {
    // (term64, doc, dl) -> tf
    val tf = scala.collection.mutable.HashMap.empty[(Long, Any, Any), Long]
    rows.foreach(r => if (!r.isNullAt(2)) r.getSeq[Long](2).foreach { h =>
      val key = (h, r.get(0), r.get(1))
      tf(key) = tf.getOrElse(key, 0L) + 1L
    })
    val postings = tf.toSeq.sortBy { case ((term, doc, _), _) =>
      (term, Option(doc).map(_.asInstanceOf[Long])) }
    val dls = rows.iterator.map(_.get(1)).collect { case dl: Int => dl.toLong }
    val schemas = IndexTables.tableSchemas(("bm25", docs.schema, idCol,
        textCol))(
      tableFrames(docs, postingsOf(docs, idCol, textCol), idCol, textCol))
    Seq(
      "postings" -> postings.map { case ((term, doc, dl), n) =>
        Row(term, doc, n, dl) },
      "vocab" -> postings.groupMapReduce(_._1._1)(_ => 1L)(_ + _).toSeq
        .map { case (term, n) => Row(term, n) },
      "doclens" -> rows.toSeq.map(r => Row(r.get(0), r.get(1))),
      "global" -> Seq(Row(rows.length.toLong, dls.sum))
    ).foreach { case (t, tableRows) =>
      IndexTables.appendLive(
        IndexTables.local(spark, tableRows, schemas(t)), s"$root/$t")
    }
  }

  /** Fold append fragments ([[IndexTables.compact]]); each appended
    * batch's row groups keep their own term64 min/max stats, so
    * pushed-predicate skipping survives the concat. */
  def bm25IndexCompact(spark: SparkSession, path: String): Unit =
    IndexTables.compact(spark, path)

  /** Threshold-triggered [[bm25IndexCompact]]
    * ([[IndexTables.maybeCompact]]). Returns whether any table compacted. */
  def bm25IndexMaybeCompact(spark: SparkSession, path: String,
                            maxFilesPerLeaf: Int = IndexTables.MaxFilesPerLeaf)
      : Boolean =
    IndexTables.maybeCompact(spark, path, maxFilesPerLeaf)

  /** Tombstone-delete documents (takedown/decontamination against a built
    * index, [[Similarity.indexDelete]]'s contract): the ids semi-join the
    * tiny `doclens/` table ONCE — at delete time, maintenance cadence —
    * to capture each deleted doc's length, so SERVING can correct n,
    * len_sum and per-term df from the tombstone rows and the postings it
    * already scanned, without ever re-reading corpus-sized state. Unknown
    * ids drop out at the semi-join; re-deletes are de-duplicated at
    * serve. */
  def bm25IndexDelete(spark: SparkSession, ids: DataFrame, idCol: String,
                      path: String): Unit =
    IndexTables.tombstone(path, IndexTables.readLive(spark,
        s"${IndexTables.liveDir(spark, path)}/doclens")
      .join(broadcast(ids.select(col(idCol).cast("long").as("doc"))
        .distinct()), Seq("doc"), "left_semi"))

  /** Physically fold the tombstones in — as a NEW INDEX-ROOT GENERATION
    * (r14): `postings/` and `doclens/` rewrite WITHOUT the tombstoned
    * docs, `vocab/` and `global/` RECOMPUTE from the surviving rows (df
    * genuinely shrinks on delete — the additive-delta representation
    * can't subtract, so vacuum rebuilds the statistics tables from their
    * source of truth), and all four land beneath root generation N+1
    * committed by ONE `_SUCCESS`. The per-table swap this replaces left a
    * window where a reader paired new postings with old statistics — the
    * exact cross-table inconsistency the root generation exists to kill.
    * Exactly the applied tombstone files are removed after the commit. */
  def bm25IndexVacuum(spark: SparkSession, path: String): Unit =
    IndexTables.foldTombstones(spark, path) { (oldRoot, tomb) =>
      def kept(t: String) = tomb.antiJoin(
        IndexTables.readLive(spark, s"$oldRoot/$t"), "doc")
      IndexTables.build(spark, path) { newRoot =>
        // data tables: anti-join rewrite, preserving the term64 clustering
        kept("postings").repartitionByRange(col("term64"))
          .sortWithinPartitions(col("term64"), col("doc"))
          .write.parquet(IndexTables.writeDir(s"$newRoot/postings"))
        kept("doclens").write
          .parquet(IndexTables.writeDir(s"$newRoot/doclens"))
        // statistics tables: recompute from the surviving data just written
        IndexTables.readLive(spark, s"$newRoot/postings")
          .groupBy(col("term64")).agg(count(lit(1)).as("df"))
          .write.parquet(IndexTables.writeDir(s"$newRoot/vocab"))
        IndexTables.readLive(spark, s"$newRoot/doclens")
          .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L))
            .as("len_sum"))
          .write.parquet(IndexTables.writeDir(s"$newRoot/global"))
      }
    }

  /** Ceiling on the number of values a serve collects to the driver and
    * splices into a pushed `In(term64, …)` predicate (VERDICT r13 #5): a
    * literal In-list prunes row groups at the scan — the best shape for an
    * online query batch — but its size IS the plan's size, so a bulk batch
    * with a huge vocabulary (10⁵⁺ distinct terms) would build a plan-sized
    * predicate where every other bounded-set site in the engine (probe
    * broadcast, tombstones) is size-gated. Past the ceiling the
    * restriction becomes a broadcast semi-join on `term64` instead —
    * semantically identical, bounded plan, the
    * [[IndexTables.MaxProbeBroadcastBytes]] pattern. The dedup serve
    * ([[Dedup.DedupIndexReader]]) gates its collected band hashes and
    * stored buckets on the same ceiling. */
  private[graft] val MaxTermInListValues = 4096L

  /** Top-k BM25 retrieval against the STORED index — the serving path.
    * Queries tokenize exactly like documents; per-query terms are
    * DISTINCT. The postings scan prunes to the batch's term set (a pushed
    * In predicate over the range-clustered table — row groups whose
    * term64 range misses the set never decompress); pending tombstones
    * correct the statistics (see [[bm25IndexDelete]]). Output:
    * (query_id, rnk, doc_id, score) with rnk 1..k by score DESC, doc_id
    * ASC on rounding ties. See [[Bm25Reader.search]] for the serve's
    * shape on either side of `maxTermInList`. */
  def bm25IndexSearch(spark: SparkSession, queries: DataFrame,
                      qidCol: String, qtextCol: String, path: String,
                      k: Int,
                      maxTermInList: Long = MaxTermInListValues): DataFrame =
    bm25IndexOpen(spark, path)
      .search(queries, qidCol, qtextCol, k, maxTermInList)

  /** Resolve a persisted BM25 index ONCE for a serving session — the
    * micro-batch serving shape (VERDICT r16 next #1): root resolution, the
    * tables' relations (file listing + footer schema) and the
    * pending-tombstone listing bind at open and are REUSED by every
    * [[Bm25Reader.search]] call, so a foreachBatch loop pays those
    * driver-side fixed costs per STREAM instead of per trigger. Valid
    * exactly as long as the index is frozen (the online-serve gates build
    * the index before any probe arrives — their contract); a serve that
    * must observe concurrent rebuilds/vacuums/deletes re-opens per call,
    * which is what [[bm25IndexSearch]] does. */
  def bm25IndexOpen(spark: SparkSession, path: String): Bm25Reader =
    new Bm25Reader(spark, path)

  /** (query_id, term64) rows of a query batch, not yet distinct. */
  private def queryTermRows(queries: DataFrame, qidCol: String,
                            qtextCol: String): DataFrame =
    queries.select(col(qidCol).cast("long").as("query_id"),
        explode(tokens(col(qtextCol))).as("term"))
      .select(col("query_id"), xxhash64(col("term")).as("term64"))

  private val QueryTermSchema = new StructType()
    .add("query_id", LongType).add("term64", LongType, nullable = false)

  private val TermStatsSchema = new StructType()
    .add("term64", LongType, nullable = false)
    .add("df", LongType, nullable = false)
    .add("n", LongType, nullable = false)
    .add("len_sum", LongType, nullable = false)

  /** See [[bm25IndexOpen]]. Holds only resolved paths, lazy relations and
    * the tombstone listing. */
  final class Bm25Reader private[TextIndex] (spark: SparkSession,
                                             path: String) {
    // ONE root resolution per open: postings and statistics must come
    // from the same index generation (a vacuum swapping between
    // per-table resolutions would mix them)
    private val root = IndexTables.liveDir(spark, path)
    private val postingsAll = IndexTables.readLive(spark, s"$root/postings")
    private val vocabAll = IndexTables.readLive(spark, s"$root/vocab")
    private val globalAll = IndexTables.readLive(spark, s"$root/global")
    private val tomb: Option[DataFrame] =
      IndexTables.tombstones(spark, path).rows.map(_.distinct())

    /** The serve. A batch's query side is bounded, so it resolves on the
      * driver in two jobs: ONE collect of at most `maxTermInList` + 1
      * (query_id, term64) rows decides the side of the ceiling and, under
      * it, IS the query side; ONE more collects the terms' `vocab/` df
      * deltas, the `global/` rows and the pending tombstones' corrections,
      * which the driver sums exactly (integer sums). Scoring then joins
      * the term-pruned postings scan with two broadcast local relations
      * — the query terms, and (term64, df, n, len_sum) — so every
      * statistic is data, never a per-batch literal in generated code.
      * Past the ceiling the batch stays distributed ([[searchBulk]]). */
    def search(queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int,
               maxTermInList: Long = MaxTermInListValues): DataFrame = {
      val rows = queryTermRows(queries, qidCol, qtextCol)
      val probe = math.min(maxTermInList + 1, Int.MaxValue.toLong).toInt
      // one task reads until the ceiling is crossed, then stops: a bulk
      // batch costs ceiling + 1 rows here, not its size
      val pairs = Trace.phase(spark, "bm25.search.terms")(
        rows.coalesce(1).limit(probe).collect())
      if (pairs.length > maxTermInList)
        searchBulk(rows.distinct(), k, maxTermInList)
      else searchLocal(pairs.distinct.toSeq, k)
    }

    private def searchLocal(pairs: Seq[Row], k: Int): DataFrame = {
      val terms = pairs.map(_.getLong(1)).distinct.sorted
      val postings = postingsAll.filter(col("term64").isin(terms: _*))
      def stat(kind: Int, term: Column, a: Column, b: Column) =
        Seq(lit(kind).as("kind"), term.cast("long").as("term64"),
          a.cast("long").as("a"), b.cast("long").as("b"))
      val parts = Seq(
        vocabAll.filter(col("term64").isin(terms: _*))
          .select(stat(0, col("term64"), col("df"), lit(0L)): _*),
        globalAll.select(stat(1, lit(null), col("n"), col("len_sum")): _*)) ++
        // pending tombstones: their postings' share of each term's df and
        // their share of n and len_sum, subtracted below
        tomb.toSeq.flatMap(t => Seq(
          postings.join(t.select(col("doc")), Seq("doc"), "left_semi")
            .groupBy(col("term64")).agg(count(lit(1)).as("del"))
            .select(stat(2, col("term64"), col("del"), lit(0L)): _*),
          t.agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L))
              .as("len"))
            .select(stat(3, lit(null), col("n"), col("len")): _*)))
      val stats = Trace.phase(spark, "bm25.search.stats")(
        parts.reduce(_ union _).collect())
      def sums(kind: Int): Map[Long, Long] = stats.filter(_.getInt(0) == kind)
        .groupMapReduce(_.getLong(1))(_.getLong(2))(_ + _)
      def total(kind: Int, i: Int): Long =
        stats.filter(_.getInt(0) == kind).map(_.getLong(i)).sum
      val dfDel = sums(2)
      val n = total(1, 2) - total(3, 2)
      val lenSum = total(1, 3) - total(3, 3)
      val live = tomb.fold(postings)(t =>
        postings.join(t.select(col("doc")), Seq("doc"), "left_anti"))
      val qLocal = IndexTables.local(spark, pairs, QueryTermSchema)
      val statsLocal = IndexTables.local(spark, sums(0).toSeq.sorted.map {
        case (t, d) => Row(t, d - dfDel.getOrElse(t, 0L), n, lenSum) },
        TermStatsSchema)
      rank(live.join(broadcast(qLocal), Seq("term64"))
        .join(broadcast(statsLocal), Seq("term64")), k)
    }

    /** A bulk batch past the ceiling: the query terms stay distributed
      * and cached; the term restriction is a literal In when the batch's
      * DISTINCT terms still fit the ceiling, else a size-gated broadcast
      * semi-join (never a plan-sized predicate, never a driver collect of
      * a bulk vocabulary). ONE job decides AND fetches: take ceiling + 1
      * ids — fits ⇒ that IS the In-list; overflows ⇒ only then is the
      * vocabulary counted (for the broadcast gate). */
    private def searchBulk(qterms0: DataFrame, k: Int,
                           maxTermInList: Long): DataFrame = {
      val qterms = graft.CacheScope.cache(qterms0)
      val qset = qterms.select(col("term64")).distinct()
      val probeLimit = math.min(maxTermInList + 1, Int.MaxValue.toLong).toInt
      val sampled = Trace.phase(spark, "bm25.search.terms")(
        qset.limit(probeLimit).collect())
      val inList: Option[Seq[Long]] =
        if (sampled.length <= maxTermInList)
          Some(sampled.map(_.getLong(0)).toSeq)
        else None
      lazy val qBytes = 16L * Trace.phase(spark, "bm25.search.terms")(
        qset.count())
      def termPruned(df: DataFrame): DataFrame = inList match {
        case Some(ids) => df.filter(col("term64").isin(ids: _*))
        case None => df.join(IndexTables.maybeBroadcast(qset, qBytes),
          Seq("term64"), "left_semi")
      }
      val postings = termPruned(postingsAll)
      val dfSum = termPruned(vocabAll)
        .groupBy(col("term64")).agg(sum(col("df")).as("df"))
      val globals = globalAll
        .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
          coalesce(sum(col("len_sum")), lit(0L)).as("len_sum"))
      // pending tombstones: drop their postings AND subtract their share
      // of the statistics — all from rows already in hand (the tombstone
      // table and the term-pruned scan), never a corpus-sized read
      val (livePostings, dfEff, gEff) = tomb match {
        case None => (postings, dfSum, globals)
        case Some(t) =>
          val live = postings.join(t.select(col("doc")), Seq("doc"),
            "left_anti")
          val dfDel = postings.join(t.select(col("doc")), Seq("doc"),
              "left_semi")
            .groupBy(col("term64")).agg(count(lit(1)).as("df_del"))
          val df2 = dfSum.join(dfDel, Seq("term64"), "left")
            .select(col("term64"),
              (col("df") - coalesce(col("df_del"), lit(0L))).as("df"))
          val gDel = t.agg(count(lit(1)).as("n_del"),
            coalesce(sum(col("dl")), lit(0L)).as("len_del"))
          val g2 = globals.crossJoin(broadcast(gDel))
            .select((col("n") - col("n_del")).as("n"),
              (col("len_sum") - col("len_del")).as("len_sum"))
          (live, df2, g2)
      }
      scoreTopK(livePostings, qterms, dfEff, gEff, k, qBytes)
    }
  }

  /** One-shot BM25 top-k straight from a corpus DataFrame — the same
    * scorer over in-plan statistics, no persistence (the batch twin the
    * index gates hash against). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qidCol: String, qtextCol: String,
               k: Int): DataFrame = {
    val d = graft.CacheScope.cache(docs)
    val qterms = graft.CacheScope.cache(
      queries.select(col(qidCol).cast("long").as("query_id"),
          explode(tokens(col(qtextCol))).as("term"))
        .select(col("query_id"), xxhash64(col("term")).as("term64"))
        .distinct())
    // prune postings to the query vocabulary BEFORE any statistics — df
    // per term over the full corpus is unchanged by dropping the terms no
    // query mentions, and everything downstream becomes O(matched
    // postings) instead of O(corpus vocabulary)
    val qset = qterms.select(col("term64")).distinct()
    val p = graft.CacheScope.cache(postingsOf(d, idCol, textCol)
      .join(broadcast(qset), Seq("term64"), "left_semi"))
    val dfAgg = p.groupBy(col("term64")).agg(count(lit(1)).as("df"))
    val g = lens(d, idCol, textCol)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("len_sum"))
    scoreTopK(p, qterms, dfAgg, g, k, estQBytes = 1L)
  }

  /** Reciprocal-rank fusion of a lexical and a semantic ranking — hybrid
    * retrieval's standard rank-level combiner (Cormack et al., SIGIR'09:
    * score = Σ 1/(c + rank), c = 60): a document surfaced by EITHER
    * ranking scores, one surfaced by both scores higher, and no score
    * calibration between BM25 and cosine is needed because only ranks
    * enter. Both inputs are (query_id, rnk, id, …) top-k frames — already
    * bounded per query — so the fusion is a full outer join of two small
    * sides plus one row-local arithmetic pass: at 100 TB the cost lives
    * entirely in producing the two rankings, which is the point of
    * fusing AFTER each index has pruned its own way. The two-term sum is
    * one IEEE addition of two correctly-rounded divisions — deterministic
    * without the decimal detour (nothing aggregates). */
  def rrfFuse(lex: DataFrame, lexIdCol: String, sem: DataFrame,
              semIdCol: String, k: Int, c: Int = 60): DataFrame = {
    val l = lex.select(col("query_id"), col(lexIdCol).as("doc_id"),
      col("rnk").as("lex_rnk"))
    val s = sem.select(col("query_id"), col(semIdCol).as("doc_id"),
      col("rnk").as("sem_rnk"))
    val fused = l.join(s, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(c) + col("lex_rnk")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(c) + col("sem_rnk")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        round(col("rrf"), 8).as("rrf"))
  }

  /** Weighted NORMALIZED-SCORE fusion — [[rrfFuse]]'s sibling, the other
    * standard hybrid combiner (convex combination over min-max-normalized
    * scores): per query, each ranking's scores normalize to [0, 1] (an
    * all-tied ranking normalizes to 1 — every doc is that ranking's
    * best), a doc missing from a side contributes 0 from it, and the
    * fused score is `w·lex + (1−w)·sem`. Where RRF uses only ranks
    * (robust, calibration-free), score fusion preserves MARGIN — a
    * runaway best match dominates; the two modes bracket the standard
    * hybrid-search configuration space. Both inputs are bounded
    * (query_id, …, id, score) top-k frames, so the fusion is two ≤k-row
    * window passes + one full-outer join — at 100 TB the cost lives in
    * the two searches, exactly like [[rrfFuse]].
    *
    * Determinism: both engines normalize identical already-rounded
    * scores with the same (s−mn)/(mx−mn) IEEE division, scale by
    * parsed-literal weights, add ONCE, and round to 6 dp — no
    * accumulation, no transcendental, so the hash gate holds without the
    * decimal detour. */
  def scoreFuse(lex: DataFrame, lexIdCol: String, lexScoreCol: String,
                sem: DataFrame, semIdCol: String, semScoreCol: String,
                k: Int, wLex: Double = 0.5): DataFrame = {
    def normed(df: DataFrame, idCol: String, scoreCol: String,
               out: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
      df.select(col("query_id"), col(idCol).as("doc_id"),
          col(scoreCol).cast("double").as("s"))
        .withColumn("__mn", min(col("s")).over(w))
        .withColumn("__mx", max(col("s")).over(w))
        .select(col("query_id"), col("doc_id"),
          when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col("s") - col("__mn")) /
              (col("__mx") - col("__mn")))
            .as(out))
    }
    val l = normed(lex, lexIdCol, lexScoreCol, "ln")
    val r = normed(sem, semIdCol, semScoreCol, "sn")
    val fused = l.join(r, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (lit(wLex) * coalesce(col("ln"), lit(0.0)) +
         lit(1.0 - wLex) * coalesce(col("sn"), lit(0.0))).as("fused"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("fused").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        round(col("fused"), 6).as("fused"))
  }

  /** The shared scorer over bulk-side statistics: `globals` is a ONE-row
    * (n, len_sum) frame — it broadcasts into the plan (never a driver
    * collect). */
  private def scoreTopK(postings: DataFrame, qterms: DataFrame,
                        dfAgg: DataFrame, globals: DataFrame, k: Int,
                        estQBytes: Long): DataFrame =
    rank(postings
      .join(IndexTables.maybeBroadcast(qterms, estQBytes), Seq("term64"))
      .join(IndexTables.maybeBroadcast(dfAgg, estQBytes), Seq("term64"))
      .crossJoin(broadcast(globals)), k)

  /** Okapi BM25 top-k over matched postings joined with their query and
    * statistics: rows carrying (query_id, doc, tf, dl, df, n, len_sum).
    * avgdl is the same correctly-rounded double division the twin
    * computes. Every floating-point step except ln() is IEEE-exact or
    * correctly rounded identically in both engines; ln's possible
    * final-ulp disagreement is cushioned by the 8 dp rounding before the
    * order-independent decimal sum. */
  private def rank(matched: DataFrame, k: Int): DataFrame = {
    val avgdl = col("len_sum").cast("double") / col("n")
    // literals appear EXACTLY as the twin's SQL spells them (2.2, 0.25 —
    // never computed as K1+1.0 etc.): both engines parse the same decimal
    // string to the same double, where a computed sum could land one ulp
    // off the parsed literal
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / avgdl))
    val contrib = round(idf * tfn, 8).cast(DecimalType(20, 8))
    val scored = matched
      .select(col("query_id"), col("doc"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc"))
      .agg(sum(col("contrib")).as("score"))
    // rank on the exact decimal; emit the score as the correctly-rounded
    // double (the inventory's standing decimal-internal/double-out shape)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc").as("doc_id"),
        col("score").cast("double").as("score"))
  }

}
