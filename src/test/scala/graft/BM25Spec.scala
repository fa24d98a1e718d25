package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexTables, TextIndex}

/** Persisted BM25 index lifecycle: stored serving equals the one-shot
  * compute, appends reconstitute the full corpus's statistics, compaction
  * preserves results while folding files, and tombstone deletes correct
  * n/avgdl/df immediately with vacuum folding them in bit-identically. */
class BM25Spec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf("0.001"))

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** First 6 tokens of the first 8 docs, as query text (the gate shape). */
  private def gateQueries: DataFrame =
    docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.operators.Dedup.tokens(col("text")), 1, 6),
          " ").as("qtext"))

  private def resultSet(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def tempPath(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("stored index serves exactly the one-shot compute") {
    val path = tempPath("graft-bm25-spec")
    TextIndex.bm25IndexWrite(docs, "doc_id", "text", path)
    val stored = resultSet(
      TextIndex.bm25IndexSearch(spark, gateQueries, "query_id", "qtext",
        path, k = 5))
    val direct = resultSet(
      TextIndex.bm25TopK(docs, gateQueries, "doc_id", "text", "query_id",
        "qtext", k = 5))
    assert(stored === direct)
    assert(stored.nonEmpty)
    // relevance sanity: queries are 6-token document prefixes, so the
    // source document (which contains every query term) should surface in
    // SOME query's top-5 — the synthetic fixture's shared vocabulary makes
    // a stronger per-query claim flaky, and exactness is already pinned
    // against the one-shot compute above and the DuckDB twin at the gate
    val hits = TextIndex.bm25IndexSearch(spark, gateQueries, "query_id",
        "qtext", path, k = 5)
      .filter(col("query_id") === col("doc_id")).count()
    assert(hits >= 1, "no query retrieved its own source document")
    fs.delete(new Path(path), true)
  }

  test("append reconstitutes the full corpus statistics; compact " +
      "preserves results and folds files") {
    val full = tempPath("graft-bm25-full")
    TextIndex.bm25IndexWrite(docs, "doc_id", "text", full)
    val split = tempPath("graft-bm25-split")
    TextIndex.bm25IndexWrite(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      "doc_id", "text", split)
    TextIndex.bm25IndexAppend(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text",
      split)
    def search(p: String) = resultSet(
      TextIndex.bm25IndexSearch(spark, gateQueries, "query_id", "qtext",
        p, k = 5))
    val one = search(full)
    assert(search(split) === one,
      "write(90%) + append(10%) must serve exactly like write(100%)")
    TextIndex.bm25IndexCompact(spark, split)
    assert(search(split) === one, "compaction must not change results")
    // compacted live generation holds ONE file per table
    val splitRoot = IndexTables.liveDir(spark, split)
    Seq("postings", "vocab", "doclens", "global").foreach { t =>
      val live = IndexTables.liveDir(spark, s"$splitRoot/$t")
      val files = graft.sources.ParquetConcat.dataFiles(
        spark.sparkContext.hadoopConfiguration, new Path(live))
      assert(files.size === 1, s"$t should compact to one file")
    }
    Seq(full, split).foreach(p => fs.delete(new Path(p), true))
  }

  test("tombstone serve == vacuumed serve == never-indexed; stats shift") {
    val path = tempPath("graft-bm25-del")
    TextIndex.bm25IndexWrite(docs, "doc_id", "text", path)
    val delPred = pmod(col("doc_id"), lit(7)) === 3
    // both sides of the In-list ceiling (0: every batch is past it) serve
    // the same rows at every step
    def search() = {
      val Seq(below, past) = Seq(TextIndex.MaxTermInListValues, 0L).map(c =>
        resultSet(TextIndex.bm25IndexSearch(spark, gateQueries, "query_id",
          "qtext", path, k = 5, maxTermInList = c)))
      assert(below === past)
      below
    }
    val before = search()
    TextIndex.bm25IndexDelete(spark, docs.filter(delPred)
      .select(col("doc_id")), "doc_id", path)
    val tombstoned = search()
    assert(tombstoned !== before,
      "deleting ~1/7 of the corpus must change some ranking or score " +
        "(n/avgdl/df all shift)")
    assert(!tombstoned.exists(r => r(2).asInstanceOf[Long] % 7 == 3),
      "no deleted doc may be retrieved")
    // the ground truth: an index that never held the deleted docs
    val clean = tempPath("graft-bm25-clean")
    TextIndex.bm25IndexWrite(docs.filter(!delPred), "doc_id", "text", clean)
    val never = resultSet(
      TextIndex.bm25IndexSearch(spark, gateQueries, "query_id", "qtext",
        clean, k = 5))
    assert(tombstoned === never,
      "tombstone-corrected serving must equal a never-indexed corpus")
    TextIndex.bm25IndexVacuum(spark, path)
    assert(search() === never, "vacuum must not change served results")
    assert(graft.sources.ParquetConcat.dataFiles(
      spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/tombstones")).isEmpty,
      "applied tombstones must clear")
    val live = IndexTables.liveDir(spark,
      s"${IndexTables.liveDir(spark, path)}/postings")
    assert(spark.read.parquet(live)
      .filter(pmod(col("doc"), lit(7)) === 3).count() === 0,
      "vacuumed postings must not contain deleted docs")
    Seq(path, clean).foreach(p => fs.delete(new Path(p), true))
  }

  test("empty and token-less documents count toward corpus statistics") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha alpha beta"),
      (2L, ""), // token-less: no postings, but n and len_sum see it
      (3L, "gamma delta")).toDF("doc_id", "text")
    val qs = Seq((0L, "alpha")).toDF("query_id", "qtext")
    val res = TextIndex.bm25TopK(tiny, qs, "doc_id", "text", "query_id",
      "qtext", k = 4).collect()
    assert(res.map(_.getLong(2)).toSet === Set(0L, 1L),
      "only the docs containing the term match")
    // idf must reflect n=4 (the empty doc counts): with n=3 the idf of a
    // df=2 term is ln(1 + 1.5/2.5); with n=4 it is ln(1 + 2.5/2.5) = ln 2.
    // tf=1, dl=3, avgdl=8/4=2 for doc 0: tfn = 2.2/(1+1.2*(0.25+0.75*1.5))
    val doc0 = res.find(_.getLong(2) == 0L).get.getDouble(3)
    val expect = BigDecimal(math.log(2.0) *
      (2.2 / (1 + 1.2 * (0.25 + (0.75 * 3) / 2.0))))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(doc0 - expect) < 1e-9,
      s"doc 0 score $doc0 != $expect — corpus stats exclude the empty doc?")
    graft.CacheScope.release(spark)
  }
}
