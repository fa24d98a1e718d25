package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexTables, Similarity, TextIndex}
import graft.sources.{ParquetConcat, ParquetOpen, TimeStore}

/** The driver-side index append ([[IndexTables.appendLive]] over a local
  * relation): it writes the rows the distributed append writes, in files
  * Spark's own writer would produce, so compaction concatenates them with
  * Spark-written files; a crash before a file's rename publishes nothing. */
class IndexAppendSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf("0.001"))
  private lazy val emb = Tables.embeddings(spark, sf("0.001"))

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("/tmp").getFileSystem(conf)

  /** `df` as a local relation: the shape of an online batch. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Every data table's live rows, sorted, by table name. */
  private def tableRows(path: String): Map[String, Seq[String]] = {
    val root = IndexTables.liveDir(spark, path)
    IndexTables.dataTables(spark, root).map { t =>
      t -> IndexTables.readLive(spark, s"$root/$t").collect()
        .map(_.toString).toSeq.sorted
    }.toMap
  }

  /** The data files of every leaf of each live data table, by table. */
  private def liveFiles(path: String): Map[String, Seq[FileStatus]] = {
    val root = IndexTables.liveDir(spark, path)
    IndexTables.dataTables(spark, root).map { t =>
      val live = new Path(IndexTables.liveDir(spark, s"$root/$t"))
      val leaves = fs.listStatus(live).filter(_.isDirectory).map(_.getPath)
      t -> (if (leaves.isEmpty) Seq(live) else leaves.toSeq)
        .flatMap(ParquetConcat.dataFiles(conf, _))
    }.toMap
  }

  private def footer(st: FileStatus) =
    ParquetOpen.withReader(conf, st)(_.getFooter.getFileMetaData)

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private val heldDocs = pmod(col("doc_id"), lit(5)) =!= 0

  test("index appends: the driver-side and the distributed append write " +
      "identical rows and identical parquet schemas to every table") {
    import spark.implicits._
    // batches read from parquet: past the ceiling their plans stay
    // distributed (a local relation's plan would fold on either side)
    val batchDocs = docs.filter(!heldDocs && col("doc_id") < 80)
      .select(col("doc_id"), col("text"))
    // five copies of one text: every band bucket of theirs holds five
    // members, over the cap of 3, so the per-batch cap drops them all
    val hotIds = (900000L until 900005L)
    val hot = hotIds.map(i => (i, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val batchVecs = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    // (family, build, append under a ceiling)
    val families = Seq[(String, String => Unit, (String, Long) => Unit)](
      ("bm25",
        path => TextIndex.bm25IndexWrite(docs.filter(heldDocs), "doc_id",
          "text", path),
        (path, c) => TextIndex.bm25IndexAppendAt(spark, batchDocs, "doc_id",
          "text", path, c)),
      ("dedup",
        path => Dedup.dedupIndexWrite(Dedup.shingles(docs.filter(heldDocs),
          "doc_id", "text", 3), path, k = 64, r = 4, maxBucket = 3),
        (path, c) => Dedup.dedupIndexAppendAt(Dedup.shingles(
          batchDocs.union(hot), "doc_id", "text", 3), path, k = 64, r = 4,
          maxBucket = 3, maxLocalRows = c)),
      ("imipq",
        path => Similarity.imiPqIndexWrite(
          emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id",
          "embedding", path, groups = 4, groupSize = 4, iters = 1, dim = 64),
        (path, c) => Similarity.imiPqIndexAppendAt(spark, batchVecs, "vec_id",
          "embedding", path, groupSize = 4, dim = 64, subs = 8, ksub = 4,
          literalBudget = Similarity.CellLiteralBudget, maxLocalRows = c)))
    families.foreach { case (name, build, appendAt) =>
      val (below, past) = (tmpDir(s"graft-append-$name-local"),
        tmpDir(s"graft-append-$name-dist"))
      build(below); build(past)
      val base = liveFiles(below)
      appendAt(below, IndexTables.LocalAppendMaxRows)
      appendAt(past, 0L)
      val rows = tableRows(below)
      assert(rows === tableRows(past),
        s"$name: driver-side and distributed appends must write equal rows")
      val (driverSide, sparkSide) = (liveFiles(below), liveFiles(past))
      driverSide.keys.foreach { t =>
        val fresh = driverSide(t).filterNot(st =>
          base(t).exists(_.getPath == st.getPath))
        assert(fresh.nonEmpty && fresh.forall(_.getPath.getName
          .contains("-local")), s"$name/$t: the append must land driver-side")
        assert(!sparkSide(t).exists(_.getPath.getName.contains("-local")),
          s"$name/$t: ceiling 0 must take the distributed append")
        // the Spark-written base and the driver-written fragment carry the
        // same physical schema and footer metadata
        val (m0, m1) = (footer(base(t).head), footer(fresh.head))
        assert(m1.getSchema === m0.getSchema, s"$name/$t")
        assert(m1.getKeyValueMetaData === m0.getKeyValueMetaData, s"$name/$t")
      }
      if (name == "dedup")
        assert(!rows("buckets").exists(r => hotIds.exists(i =>
          r.startsWith(s"[$i,"))) && rows("sizes").exists(r =>
          r.startsWith(s"[${hotIds.head},")),
          "the hot bucket's members are capped out of buckets/ only")
      // a leaf holding both writers' files concatenates into one file
      IndexTables.compact(spark, below)
      assert(liveFiles(below).values.forall(_.size == 1), name)
      assert(tableRows(below) === rows, s"$name: compaction keeps every row")
      Seq(below, past).foreach(p => fs.delete(new Path(p), true))
    }
  }

  test("a driver-side append that dies between staging and rename " +
      "publishes nothing, and the next append sweeps its staged file") {
    val path = tmpDir("graft-append-crash")
    TextIndex.bm25IndexWrite(docs.filter(heldDocs), "doc_id", "text", path)
    val batch = local(docs.filter(!heldDocs && col("doc_id") < 40)
      .select(col("doc_id"), col("text")))
    val queries = local(batch.select(col("doc_id").as("query_id"),
      col("text").as("qtext")))
    def search() = TextIndex.bm25IndexSearch(spark, queries, "query_id",
      "qtext", path, k = 3).collect().map(_.toString).toSet
    val before = search()
    val rowsBefore = tableRows(path)
    val postings = IndexTables.liveDir(spark,
      s"${IndexTables.liveDir(spark, path)}/postings")
    def staged() = fs.listStatus(new Path(postings)).map(_.getPath.getName)
      .filter(_.endsWith(".inprogress")).toSeq
    TimeStore.crashSeams.add("index-append-before-rename")
    val boom = intercept[RuntimeException](
      TextIndex.bm25IndexAppend(spark, batch, "doc_id", "text", path))
    assert(boom.getMessage.contains("injected crash"))
    assert(TimeStore.crashSeams.isEmpty, "seam did not fire")
    assert(staged().size === 1, "the crash leaves one staged file")
    assert(search() === before, "a search sees the pre-append index")
    assert(tableRows(path) === rowsBefore)
    TextIndex.bm25IndexAppend(spark, batch, "doc_id", "text", path)
    assert(staged().isEmpty, "the next append sweeps the orphan")
    // the appended index serves what an index built with the batch serves
    val built = tmpDir("graft-append-crash-built")
    TextIndex.bm25IndexWrite(docs.filter(heldDocs).union(
      docs.filter(!heldDocs && col("doc_id") < 40)), "doc_id", "text", built)
    val expected = TextIndex.bm25IndexSearch(spark, queries, "query_id",
      "qtext", built, k = 3).collect().map(_.toString).toSet
    assert(search() === expected && expected != before)
    Seq(path, built).foreach(p => fs.delete(new Path(p), true))
  }
}
