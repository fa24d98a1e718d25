package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexTables, Similarity, TextIndex}

/** The index serves' job budget: a bounded online batch resolves its
  * query side on the driver, so one collected serve submits a handful of
  * Spark jobs, none of them a parquet schema-inference job, each named by
  * its phase. */
class IndexServeSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf("0.001"))
  private lazy val emb = Tables.embeddings(spark, sf("0.001"))

  /** `df` as a local relation: the shape of an online batch. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  test("index serves: bounded job budget, no schema-inference job, " +
      "every job named") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-spec")
    val (bm25, dedup, ann) = (s"$tmp/bm25", s"$tmp/dedup", s"$tmp/ann")
    TextIndex.bm25IndexWrite(docs, "doc_id", "text", bm25)
    Dedup.dedupIndexWrite(Dedup.shingles(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", 3),
      dedup, k = 64, r = 4)
    Similarity.imiPqIndexWrite(emb, "vec_id", "embedding", ann, groups = 4,
      groupSize = 4, iters = 1, dim = 64)
    val queries = local(docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Dedup.tokens(col("text")), 1, 6), " ").as("qtext")))
    val incoming = local(docs.filter(pmod(col("doc_id"), lit(5)) === 0 &&
      col("doc_id") < 40).select(col("doc_id"), col("text")))
    val probes = local(emb.filter(col("vec_id") < 8))
    // (name, serve, budget, the serve's phase prefix); before the
    // driver-side query sides they ran 18, 18 and 6 jobs
    val serves = Seq[(String, () => DataFrame, Int, String)](
      ("bm25IndexSearch", () => TextIndex.bm25IndexSearch(spark, queries,
        "query_id", "qtext", bm25, k = 5), 7, "bm25.search."),
      ("dedupIndexCheck", () => Dedup.dedupIndexCheck(spark,
        Dedup.shingles(incoming, "doc_id", "text", 3), dedup, k = 64, r = 4,
        threshold = 0.5), 5, "dedup.check."),
      ("imiPqIndexSearch", () => Similarity.imiPqIndexSearch(spark, probes,
        "vec_id", "embedding", ann, k = 5, groupSize = 4, nprobeGroups = 2,
        nprobeCells = 4, dim = 64), 4, "ann.search."))
    serves.foreach { case (name, serve, budget, prefix) =>
      // warm: the first IMI-PQ search loads the frozen model into the
      // session cache, as the first search of a serving session does
      serve().collect()
      CacheScope.release(spark)
      // the result's own jobs run under the caller's action and name
      var result = Array.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf {
        val df = serve()
        result = Trace.phase(spark, "caller.collect")(df.collect())
      }
      CacheScope.release(spark)
      val built = jobs.filterNot(_._1 == "caller.collect")
      assert(result.nonEmpty, name)
      assert(jobs.size <= budget,
        s"$name ran ${jobs.size} jobs (budget $budget):\n${jobs.mkString("\n")}")
      assert(!jobs.exists(_._2.split("; ").exists(_.startsWith("parquet at"))),
        s"$name ran a schema-inference job:\n${jobs.mkString("\n")}")
      assert(jobs.forall(_._1.nonEmpty),
        s"$name ran an unnamed job:\n${jobs.mkString("\n")}")
      assert(built.forall(_._1.startsWith(prefix)),
        s"$name's own jobs must carry its phase names:\n${jobs.mkString("\n")}")
    }
    // the footer schema is the schema inference derives, partition
    // columns included
    Seq(s"$bm25", s"$dedup", s"$ann").foreach { path =>
      val root = IndexTables.liveDir(spark, path)
      val models = if (path == ann) Seq("coarse", "fine") else Nil
      (IndexTables.dataTables(spark, root)
          .map(t => IndexTables.liveDir(spark, s"$root/$t")) ++
        models.map(m => s"$root/$m")).foreach { live =>
        assert(IndexTables.read(spark, live).schema ===
          spark.read.parquet(live).schema, live)
      }
    }
    new Path(tmp.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(tmp.toString), true)
  }

  test("index appends: a local batch submits at most one job per family, " +
      "every job named, none a schema-inference job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-append-spec")
    val (bm25, dedup, ann) = (s"$tmp/bm25", s"$tmp/dedup", s"$tmp/ann")
    val held = pmod(col("doc_id"), lit(5)) =!= 0
    TextIndex.bm25IndexWrite(docs.filter(held), "doc_id", "text", bm25)
    Dedup.dedupIndexWrite(Dedup.shingles(docs.filter(held), "doc_id",
      "text", 3), dedup, k = 64, r = 4)
    Similarity.imiPqIndexWrite(emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      "vec_id", "embedding", ann, groups = 4, groupSize = 4, iters = 1,
      dim = 64)
    // batch i: disjoint new docs and vectors, as local relations
    def batchDocs(i: Int) = local(docs.filter(!held &&
      pmod(col("doc_id"), lit(10)) === i * 5).select(col("doc_id"), col("text")))
    def batchVecs(i: Int) = local(emb.filter(pmod(col("vec_id"), lit(5)) === 0 &&
      pmod(col("vec_id"), lit(10)) === i * 5))
    val (docBatches, vecBatches) = (Seq(0, 1).map(batchDocs),
      Seq(0, 1).map(batchVecs))
    // (name, append of batch i then its maintenance check, phase prefixes)
    val appends = Seq[(String, Int => Unit, Seq[String])](
      ("bm25IndexAppend", i => {
        TextIndex.bm25IndexAppend(spark, docBatches(i), "doc_id", "text",
          bm25)
        TextIndex.bm25IndexMaybeCompact(spark, bm25, 1)
      }, Seq("bm25.append", "index.compact")),
      ("dedupIndexAppend", i => {
        Dedup.dedupIndexAppend(Dedup.shingles(docBatches(i), "doc_id", "text",
          3), dedup, k = 64, r = 4)
        Dedup.dedupIndexMaybeCompact(spark, dedup, 1)
      }, Seq("dedup.append", "index.compact")),
      ("imiPqIndexAppend", i => {
        Similarity.imiPqIndexAppend(spark, vecBatches(i), "vec_id",
          "embedding", ann, groupSize = 4, dim = 64)
        Similarity.indexMaybeCompact(spark, ann, 1)
      }, Seq("ann.append", "ann.model.load", "index.compact")))
    appends.foreach { case (name, append, phases) =>
      // warm: the first IMI-PQ append loads the frozen model into the
      // session cache, as the first append of an ingest session does
      append(0)
      val jobs = jobsOf(append(1))
      CacheScope.release(spark)
      assert(jobs.size <= 1,
        s"$name ran ${jobs.size} jobs (budget 1):\n${jobs.mkString("\n")}")
      assert(!jobs.exists(_._2.split("; ").exists(_.startsWith("parquet at"))),
        s"$name ran a schema-inference job:\n${jobs.mkString("\n")}")
      assert(jobs.forall(j => phases.contains(j._1)),
        s"$name's jobs must carry its phase names:\n${jobs.mkString("\n")}")
    }
    new Path(tmp.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(tmp.toString), true)
  }
}
