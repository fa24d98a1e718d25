package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextIndex}

/** Tombstone-delete + vacuum lifecycle of the persisted indexes (IMI,
  * IMI-PQ, PQ, dedup): deletes serve immediately through the anti-join,
  * the vacuum folds them in physically with IDENTICAL results, the
  * applied tombstones are cleared, and the vacuumed generation no longer
  * contains the deleted ids at all. */
class IndexDeleteSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("0.001"))

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def resultSet(df: DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** One IMI-family index's write, search and append over `path`, and the
    * data table that holds its rows. */
  private case class Imi(name: String, table: String,
                         write: String => Unit,
                         search: String => DataFrame,
                         append: (DataFrame, String) => Unit)

  private lazy val imiFamilies = Seq(
    Imi("imi", "lists",
      path => Similarity.imiIndexWrite(emb, "vec_id", "embedding", path,
        groups = 4, groupSize = 4, iters = 1, dim = 64),
      path => Similarity.imiIndexSearch(spark,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", path,
        k = 5, groupSize = 4, nprobeGroups = 2, nprobeCells = 4),
      (batch, path) => Similarity.imiIndexAppend(spark, batch, "vec_id",
        "embedding", path, groupSize = 4)),
    Imi("imi-pq", "codes",
      path => Similarity.imiPqIndexWrite(emb, "vec_id", "embedding", path,
        groups = 4, groupSize = 4, iters = 1, dim = 64),
      path => Similarity.imiPqIndexSearch(spark,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", path,
        k = 5, groupSize = 4, nprobeGroups = 2, nprobeCells = 4, dim = 64),
      (batch, path) => Similarity.imiPqIndexAppend(spark, batch, "vec_id",
        "embedding", path, groupSize = 4, dim = 64)))

  test("imi index: tombstone serve == vacuumed serve; tombstones clear; " +
      "rows physically gone") {
    imiFamilies.foreach { ann =>
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-delete-${ann.name}-spec").toString
      ann.write(path)
      def search() = resultSet(ann.search(path))
      val full = search()
      val delPred = pmod(col("vec_id"), lit(7)) === 3
      Similarity.indexDelete(spark,
        emb.filter(delPred).select(col("vec_id")), "vec_id", path)
      val tombstoned = search()
      assert(tombstoned !== full, s"${ann.name}: fixture should lose at " +
        "least one neighbor to the deletion batch")
      assert(!tombstoned.exists(r => r(2).asInstanceOf[Long] % 7 == 3),
        s"${ann.name}: no deleted id may appear as a neighbor")

      Similarity.indexVacuum(spark, path)
      assert(search() === tombstoned,
        s"${ann.name}: vacuum must not change served results")
      // applied tombstones are cleared (data files removed)
      assert(graft.sources.ParquetConcat.dataFiles(
        spark.sparkContext.hadoopConfiguration,
        new Path(s"$path/tombstones")).isEmpty, ann.name)
      // physically gone from the live generation
      val live = graft.operators.IndexTables.liveDir(spark,
        s"${Similarity.indexLiveRoot(spark, path)}/${ann.table}")
      assert(spark.read.parquet(live)
        .filter(pmod(col("nbr_id"), lit(7)) === 3).count() === 0,
        s"${ann.name}: vacuumed generation must not contain deleted rows")
      // a later append still lands and serves
      ann.append(emb.filter(delPred && col("vec_id") > 100), path)
      assert(search().nonEmpty, ann.name)
      fs.delete(new Path(path), true)
    }
  }

  test("dedup index: deleted docs stop matching immediately and vacuum " +
      "is identical") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf("0.001"))
    val held = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-dedup-delete-spec").toString
    Dedup.dedupIndexWrite(Dedup.shingles(held, "doc_id", "text", 3), path,
      k = 64, r = 4)
    val shI = Dedup.shingles(incoming, "doc_id", "text", 3)
    // both sides of the ceiling (0: every batch is past it) check alike
    def check() = {
      val Seq(below, past) = Seq(TextIndex.MaxTermInListValues, 0L).map(c =>
        Dedup.dedupIndexOpen(spark, path).checkAt(shI, k = 64, r = 4,
          threshold = 0.5, maxBucket = Dedup.DefaultMaxBucket, maxInList = c))
      assert(resultSet(below) === resultSet(past))
      below
    }
    val full = resultSet(check())
    assert(full.nonEmpty)
    // delete every held doc that currently matches something — after the
    // delete the check must return NOTHING
    val matchedJs = full.map(_(1).asInstanceOf[Long]).toSeq
    Dedup.dedupIndexDelete(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(
          matchedJs.map(org.apache.spark.sql.Row(_))),
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long")),
      "doc_id", path)
    assert(resultSet(check()).isEmpty,
      "tombstoned docs must stop matching immediately")
    Dedup.dedupIndexVacuum(spark, path)
    assert(resultSet(check()).isEmpty, "vacuum must not change the check")
    assert(graft.sources.ParquetConcat.dataFiles(
      spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/tombstones")).isEmpty,
      "applied tombstones must clear")
    val live = graft.operators.IndexTables.liveDir(spark,
      s"${graft.operators.IndexTables.liveDir(spark, path)}/shingles")
    assert(spark.read.parquet(live)
      .filter(col("doc").isin(matchedJs.map(Long.box): _*)).count() === 0,
      "vacuumed shingle table must not contain deleted docs")
    fs.delete(new Path(path), true)
  }

  test("pq index: tombstoned codes drop from ADC serving and vacuum is " +
      "identical") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-delete-pq-spec").toString
    Similarity.pqIndexWrite(emb, "vec_id", "embedding", path,
      subs = 8, ksub = 4, iters = 1, dim = 64)
    def search() = Similarity.pqIndexSearch(spark,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", path,
      k = 5, subs = 8, ksub = 4, dim = 64)
    Similarity.indexDelete(spark,
      emb.filter(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
      "vec_id", path)
    val tombstoned = resultSet(search())
    assert(!tombstoned.exists(r => r(2).asInstanceOf[Long] % 5 == 2))
    Similarity.indexVacuum(spark, path)
    assert(resultSet(search()) === tombstoned)
    fs.delete(new Path(path), true)
  }
}
