package graft.sources

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** The one driver-side Parquet write: bounded batches the driver already
  * holds — store point puts ([[TimeStore.writePointsLocal]]), store
  * takedowns ([[TimeStore.deletePoints]], [[TimeStore.deletePointsBatch]])
  * and index appends ([[graft.operators.IndexTables.appendLive]]) — land
  * as files published the way a reader-safe append must be: staged under
  * a dot-prefixed `.inprogress` name (every reader skips '.'/'_' names),
  * renamed into place only once the writer closed, so a lock-free reader
  * never lists a file whose footer is not committed. Rename is atomic on
  * HDFS and the local FS — the discipline Spark's commit protocol gives a
  * distributed write.
  *
  * Files are written through the writer a Spark parquet write runs in its
  * tasks (`ParquetUtils.prepareWrite` and its output-writer factory), so a
  * driver-written file carries the physical schema and footer metadata a
  * Spark-written file of the same schema carries, and compaction
  * concatenates the two ([[ParquetConcat.mergeSameSchema]]).
  *
  * Every call site holds its table's single-writer scope (the store's
  * writer lease, an index's single maintainer), so any staged file already
  * in a target directory is an orphan of a writer that died before its
  * rename; [[publish]] sweeps them before staging. */
private[graft] object LocalParquet {

  /** `rows` to land in `dir` under the name `base`. */
  final case class Staged(dir: Path, base: String, rows: Iterable[InternalRow])

  /** A fresh data-file name for an append: unique, so a failed rename is
    * always an error. */
  def partName(): String =
    s"part-${java.util.UUID.randomUUID()}-local.snappy.parquet"

  /** Write each of `files` under `schema` and publish it: sweep the
    * directory's stale staged files, stage, then rename into place. One
    * writer set-up serves every file of the call. A rename that fails onto
    * an existing file KEEPS that file and drops the staged copy — the
    * idempotence of a deterministic name: an at-least-once replay carries
    * the same rows, so the earlier publish already says everything this
    * one would, and replacing it would open a window with the committed
    * file absent. Any other failed rename throws. */
  def publish(spark: SparkSession, schema: StructType, files: Seq[Staged]): Unit =
    if (files.nonEmpty) {
      val sqlConf = spark.sessionState.conf
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID())
      files.foreach { case Staged(dir, base, rows) =>
        val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        sweep(f, dir)
        val staged = new Path(dir, s".$base.inprogress")
        val w = factory.newInstance(staged.toString, schema, ctx)
        try rows.foreach(w.write) finally w.close()
        TimeStore.crashPoint("publish-before-rename")
        val dst = new Path(dir, base)
        if (!f.rename(staged, dst)) {
          f.delete(staged, false)
          if (!f.exists(dst))
            throw new IOException(s"failed to publish $staged")
        }
      }
    }

  /** Delete the staged files a crashed writer left in `dir`: one listing,
    * none for a directory the write is about to create. */
  private def sweep(f: FileSystem, dir: Path): Unit =
    try f.listStatus(dir).foreach { st =>
      if (st.isFile && st.getPath.getName.endsWith(".inprogress"))
        f.delete(st.getPath, false)
    } catch { case _: FileNotFoundException => () }
}
