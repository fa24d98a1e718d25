package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project,
  SubqueryAlias}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.Trace
import graft.sources.{Generations, LocalParquet, ParquetConcat, ParquetOpen}

/** The one storage lifecycle of every persisted index — the ANN indexes
  * ([[Similarity.imiIndexWrite]], [[Similarity.imiPqIndexWrite]],
  * [[Similarity.pqIndexWrite]]), the BM25 index ([[TextIndex]]) and the
  * dedup signature index ([[Dedup.dedupIndexWrite]]). The families decide
  * what their tables hold; build, append, compaction, tombstones and
  * vacuum run here. This is the store's rollover/compaction discipline
  * ([[graft.sources.TimeStore.compact]]; rados-timestore
  * `StoreHelpers.hs:194-221` keeps bucket objects file-sized) applied to
  * the index tables.
  *
  * '''Layout.''' An index path holds `gen-NNNNNN` ROOT generations and a
  * `tombstones/` table:
  * {{{
  *   path/gen-000003/_SUCCESS               root commit marker
  *   path/gen-000003/coarse/ fine/ books/   MODEL tables: plain parquet
  *   path/gen-000003/lists/gen-000001/...   DATA tables: generational
  *   path/tombstones/part-*.parquet         pending deletes, any generation
  * }}}
  * A table is generational when it holds `gen-*` directories. Listing,
  * the live generation (the newest committed `_SUCCESS`), commit and
  * retirement are the store's own ([[graft.sources.Generations]]), so
  * every swap is atomic from a reader's view. Readers resolve the root
  * ONCE per serve ([[liveDir]]) and derive model and data dirs from it,
  * so they never pair one build's model with another's data.
  *
  * '''Build''' ([[build]]): a full write — a fresh build, a rebuild, a
  * vacuum that recomputes statistics — lands model and data (base data
  * under [[writeDir]]) beneath root generation N+1, made visible by one
  * `_SUCCESS` ([[commitRoot]]).
  *
  * '''Append''' ([[appendLive]]): a parquet append into a data table's
  * live generation, matching its `cell=` partitioning. Model tables are
  * never appended to. A bounded batch (at most [[LocalAppendMaxRows]]
  * rows, collected once by [[collectBounded]]) reaches it as a local
  * relation and lands on the driver with no Spark job, one file per leaf,
  * through the publisher the store's point puts and takedowns share
  * ([[graft.sources.LocalParquet]]: Spark's own parquet writer, staged
  * under a name every reader skips, renamed into place). Anything else is
  * a Spark append.
  *
  * '''Compaction''' ([[compact]], [[maybeCompact]]): each data table of
  * the live root — found as the root's children that hold `gen-*`
  * generations, so model tables are never touched — copies its live
  * generation into generation N+1 with one file per leaf directory (per
  * `cell=` partition when present) through the store's leaf compaction
  * ([[graft.sources.Generations.compact]]: raw row-group copy, no
  * decode). [[maybeCompact]] runs it only where some leaf holds more than
  * `maxFilesPerLeaf` files — the store's `maybeRollover`, with
  * files-per-leaf as the unit of fragmentation (SCALE.md's imi_index_ab
  * measured search at 26.6 s across 1,753 file-tasks vs 4.7 s compacted).
  *
  * '''Tombstones''' ([[tombstone]], [[tombstones]]): a delete appends key
  * rows to `path/tombstones` without rewriting the index; serves anti-join
  * against the files listed once ([[Tombstones.antiJoin]]), broadcast
  * while those files' bytes stay under [[MaxProbeBroadcastBytes]].
  *
  * '''Vacuum''' ([[foldTombstones]]): list the pending files; with none,
  * or no live root, do nothing; else rewrite the index without those keys
  * (a per-table [[rewriteTable]] into table generation N+1, or a new root
  * generation when statistics must be recomputed), then delete exactly
  * the listed files — a delete landing mid-vacuum stays pending.
  *
  * '''Retirement.''' A superseded generation (table or root) is deleted
  * only after [[graft.sources.TimeStore.LeaseTimeoutMs]], on the store's
  * first-observation clock ([[graft.sources.Generations]]). A reader that
  * resolved the old generation keeps scanning it meanwhile.
  *
  * '''Reads.''' Every index-table read goes through [[read]]: the schema
  * comes from one data file's footer, so no read pays Spark's
  * schema-inference job (a `parquet at` job per relation, ~50-100 ms of
  * scheduling floor each on a serve that otherwise runs a handful of jobs).
  *
  * Single maintainer: appends, compaction, vacuum and rebuild of one index
  * do not run concurrently.
  */
private[graft] object IndexTables {

  /** Default `maxFilesPerLeaf` of every `*MaybeCompact` entry point. */
  val MaxFilesPerLeaf = 16

  /** Ceiling on a side's estimated bytes under which it is broadcast
    * into a join: probe fan-outs, query sets, tombstones. Past it a bulk
    * side would exceed the broadcast limit, so the planner picks. */
  private[graft] val MaxProbeBroadcastBytes = 64L << 20

  /** `df` hinted for broadcast when `estBytes` fits the ceiling. */
  def maybeBroadcast(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= MaxProbeBroadcastBytes) broadcast(df) else df

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dir` (an index table's live generation or a model table) as a
    * relation whose schema comes from ONE footer, opened through
    * [[graft.sources.ParquetOpen]]: the same schema Spark's inference
    * derives (the writer's stored Spark schema, else the parquet
    * conversion), without its job. All index writers emit one schema per
    * table, so one footer speaks for every file; `cell=` partition columns
    * are still discovered from the paths. A directory with no data file
    * falls back to inference and fails as a plain read would. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readFiles(spark, Seq(dir),
      firstDataFile(fsOf(spark, dir), new Path(dir)))

  /** [[read]] of `table`'s live generation ([[liveDir]]). */
  def readLive(spark: SparkSession, table: String): DataFrame =
    read(spark, liveDir(spark, table))

  private def readFiles(spark: SparkSession, paths: Seq[String],
                        footerOf: Option[FileStatus]): DataFrame =
    footerOf.map(footerSchema(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession, st: FileStatus): StructType =
    ParquetOpen.withReader(spark.sparkContext.hadoopConfiguration, st)(r =>
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, r.getFooter),
        new ParquetToSparkSchemaConverter(SQLConf.get)))

  /** The first data file under `dir` in path order, descending into
    * partition directories; markers and hidden names skipped. */
  private def firstDataFile(f: FileSystem, dir: Path): Option[FileStatus] =
    if (!f.exists(dir)) None
    else {
      val (dirs, files) = f.listStatus(dir).toSeq
        .filter { st =>
          val nm = st.getPath.getName
          !nm.startsWith("_") && !nm.startsWith(".")
        }
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.orElse(
        dirs.iterator.flatMap(d => firstDataFile(f, d.getPath)).nextOption())
    }

  private def gens(f: FileSystem, table: String): Seq[(Long, Path)] =
    Generations.list(f, new Path(table), Generations.Numbered)

  /** The directory a fresh base write lands in. */
  def writeDir(table: String): String =
    s"$table/${Generations.Numbered.dirName(0)}"

  /** The live generation when the table exists: the newest complete one.
    * Fails loudly on a LEGACY (pre-generational) layout — real content
    * directly under the path with no `gen-*` directory at all. Treating
    * such a path as "never written" is the worst of both worlds (ADVICE
    * r14): maintenance would silently no-op forever while serves throw
    * "index never written?" against data that plainly exists. There is no
    * silent migration: the caller must rebuild (or move the tables under
    * a committed `gen-000000`) deliberately. `tombstones` is the one
    * sanctioned non-generational resident of an index root; `_`/`.` names
    * are markers/staging. An in-flight FIRST build (gen dir present, no
    * `_SUCCESS` yet) is NOT legacy — maintenance stays a no-op on it. */
  def liveGenOpt(spark: SparkSession, table: String): Option[(Long, Path)] = {
    val f = fsOf(spark, table)
    val root = new Path(table)
    val all = gens(f, table)
    if (all.isEmpty && f.exists(root) &&
        f.listStatus(root).exists { st =>
          val nm = st.getPath.getName
          !nm.startsWith("_") && !nm.startsWith(".") && nm != "tombstones"
        })
      throw new IllegalStateException(
        s"$table holds content but no gen-* generation — a pre-generational " +
        "legacy layout this build cannot serve or maintain; rebuild the " +
        "index (e.g. *IndexWrite over a fresh path, or move the existing " +
        "tables under <path>/gen-000000 with a _SUCCESS marker) and retire " +
        "the legacy directory")
    Generations.complete(f, all).lastOption
  }

  /** The live generation — where reads resolve and appends land. Fails
    * loudly on a table no complete write ever created ("invalid namespace"
    * discipline, like the store's fetchIndex). */
  def liveDir(spark: SparkSession, table: String): String =
    liveGenOpt(spark, table).map(_._2.toString)
      .getOrElse(throw new IllegalStateException(
        s"no complete generation under $table — index never written?"))

  /** A full index build: `write(root)` fills root generation N+1, then
    * [[commitRoot]] makes it visible. */
  def build(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val root = nextRootDir(spark, path)
    write(root)
    commitRoot(spark, root)
  }

  /** Where the NEXT full index build lands: root generation N+1 (0 for a
    * fresh path), any incomplete earlier attempt at that slot removed. */
  private def nextRootDir(spark: SparkSession, path: String): String =
    Generations.claim(fsOf(spark, path), new Path(path), Generations.Numbered,
      liveGenOpt(spark, path).fold(0L)(_._1 + 1)).toString

  /** The single atomic commit point of a full index build: create the root
    * generation's `_SUCCESS` (readers resolve the new index from here on)
    * and start the superseded index's retirement clock. */
  def commitRoot(spark: SparkSession, root: String): Unit = {
    val f = fsOf(spark, root)
    val rootPath = new Path(root)
    Generations.commit(f, rootPath)
    Generations.retireSuperseded(f,
      Generations.complete(f, gens(f, rootPath.getParent.toString)))
  }

  /** The data tables of a root generation, by name: its children that
    * hold `gen-*` generations. Model tables hold plain files and are not
    * listed. */
  def dataTables(spark: SparkSession, root: String): Seq[String] = {
    val f = fsOf(spark, root)
    f.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && f.listStatus(st.getPath).exists(c =>
        c.isDirectory && Generations.Numbered.parse(c.getPath.getName).isDefined))
      .map(_.getPath.getName).sorted
  }

  /** Whether a live generation is `cell=` partitioned. */
  private def cellPartitioned(f: FileSystem, live: Path): Boolean =
    f.listStatus(live).exists(_.getPath.getName.startsWith("cell="))

  /** Row ceiling of a driver-side index append: a batch of at most this
    * many collected rows (documents, shingle rows or vectors, with their
    * hashes) stays a few MB on the driver. Past it the append runs the
    * distributed plan. */
  private[graft] val LocalAppendMaxRows = 4096L

  /** At most `max` + 1 rows of `df`: no job when its plan folds to a
    * local relation, else one single-task job that stops reading once
    * the ceiling is crossed. More than `max` rows means "past the
    * ceiling". */
  def collectBounded(df: DataFrame, max: Long): Array[Row] = {
    val n = math.min(max + 1, Int.MaxValue.toLong).toInt
    val limited = df.limit(n)
    if (localRows(limited).isDefined) limited.collect()
    else df.coalesce(1).limit(n).collect()
  }

  /** `rows` of `schema` as a local relation. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The rows of `df` when its plan is, or folds at optimization to, a
    * local relation with `df`'s columns. Only projections, filters and
    * limits over local relations fold (`ConvertToLocalRelation`), so only
    * such a plan is optimized to find out. */
  private def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    def rowsOf(plan: LogicalPlan) = plan match {
      case lr: LocalRelation if !lr.isStreaming &&
          lr.output.map(_.name) == df.schema.fieldNames.toSeq =>
        Some(lr.data)
      case _ => None
    }
    val analyzed = df.queryExecution.analyzed
    rowsOf(analyzed).orElse(
      if (analyzed.find {
            case _: Project | _: Filter | _: LocalLimit | _: GlobalLimit |
                 _: SubqueryAlias | _: LocalRelation => false
            case _ => true
          }.isEmpty) rowsOf(df.queryExecution.optimizedPlan)
      else None)
  }

  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[Any, Map[String, StructType]]()

  /** The schemas of a family's distributed table frames, by table: what a
    * driver-side append writes its rows under. They depend only on `key`
    * (the family, its input's schema and the parameters that shape its
    * tables), and analysing the frames costs a few ms per DataFrame step
    * (tens for the dedup signature's k aggregates), so they are derived
    * once per key. */
  def tableSchemas(key: Any)(frames: => Seq[(String, DataFrame)])
      : Map[String, StructType] = {
    if (schemaMemo.size > 256) schemaMemo.clear()
    schemaMemo.computeIfAbsent(key,
      _ => frames.map { case (t, df) => t -> df.schema }.toMap)
  }

  /** Append `df` to `table`'s live generation, matching its `cell=`
    * partitioning. A frame whose plan folds to a local relation lands on
    * the driver ([[writeLocal]]); anything else is a Spark append. Fails
    * loudly on a table never written. */
  def appendLive(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val live = new Path(liveDir(spark, table))
    val partitioned = cellPartitioned(fsOf(spark, table), live)
    localRows(df) match {
      case Some(rows) => writeLocal(spark, rows, df.schema, live, partitioned)
      case None =>
        val out = df.write.mode("append")
        (if (partitioned) out.partitionBy("cell") else out)
          .parquet(live.toString)
    }
  }

  /** `rows` of `schema` appended to the generation `live` on the driver
    * ([[LocalParquet.publish]]: the writer Spark's own parquet write runs,
    * so compaction concatenates these files with Spark-written ones). One
    * file per leaf (per `cell=` value, the column dropped from the data
    * as Spark's partitioned write does). An empty batch writes nothing. */
  private def writeLocal(spark: SparkSession, rows: Seq[InternalRow],
                         schema: StructType, live: Path,
                         partitioned: Boolean): Unit =
    if (rows.nonEmpty) {
      val cellIdx = if (partitioned) schema.fieldIndex("cell") else -1
      val keep = schema.fields.indices.filter(_ != cellIdx)
      val leaves: Seq[(Path, Seq[InternalRow])] =
        if (!partitioned) Seq(live -> rows)
        else rows.groupBy { r =>
          val v = r.get(cellIdx, schema.fields(cellIdx).dataType)
          ExternalCatalogUtils.getPartitionPathString("cell",
            if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else v.toString)
        }.toSeq.sortBy(_._1).map { case (leaf, rs) =>
          new Path(live, leaf) -> rs.map(r => new GenericInternalRow(
            keep.map(i => r.get(i, schema.fields(i).dataType)).toArray))
        }
      LocalParquet.publish(spark, StructType(keep.map(schema.fields(_))),
        leaves.map { case (dir, leafRows) =>
          LocalParquet.Staged(dir, LocalParquet.partName(), leafRows)
        })
    }

  /** Rewrite `table`'s live generation through `f` into generation N+1
    * (`cell=` partitioning kept), then retire what that supersedes.
    * No-op on a table with no live generation. */
  def rewriteTable(spark: SparkSession, table: String)(
      f: DataFrame => DataFrame): Unit =
    liveGenOpt(spark, table).foreach { case (g, live) =>
      val fs = fsOf(spark, table)
      val out = f(read(spark, live.toString)).write.mode("overwrite")
      (if (cellPartitioned(fs, live)) out.partitionBy("cell")
       else out).parquet(s"$table/${Generations.Numbered.dirName(g + 1)}")
      Generations.retireSuperseded(fs, Generations.complete(fs, gens(fs, table)))
    }

  /** Compact every data table of the index at `path`. No-op on a
    * never-written path. */
  def compact(spark: SparkSession, path: String): Unit =
    Trace.phase(spark, "index.compact") {
      liveTables(spark, path).foreach(compactTable(spark, _))
    }

  /** Compact the data tables of the index at `path` some leaf of which
    * holds more than `maxFilesPerLeaf` files; a quiet index costs its
    * listings. Returns whether any table compacted. */
  def maybeCompact(spark: SparkSession, path: String,
                   maxFilesPerLeaf: Int = MaxFilesPerLeaf): Boolean =
    Trace.phase(spark, "index.compact") {
      liveTables(spark, path).map { l =>
        val over = l.leaves.exists(_._2.size > maxFilesPerLeaf)
        if (over) compactTable(spark, l)
        over
      }.exists(identity)
    }

  /** The data tables of the index at `path`'s live root, each listed once
    * ([[graft.sources.Generations.listing]]). */
  private def liveTables(spark: SparkSession,
                         path: String): Seq[Generations.Listing] =
    liveGenOpt(spark, path).toSeq.flatMap { case (_, root) =>
      val f = fsOf(spark, path)
      dataTables(spark, root.toString).map(t =>
        Generations.listing(f, new Path(root, t), Generations.Numbered))
    }

  /** One table's live generation, as listed, into one file per leaf as
    * generation N+1 ([[graft.sources.Generations.compact]]). */
  private def compactTable(spark: SparkSession, l: Generations.Listing): Unit =
    Generations.compact(spark, fsOf(spark, l.parent.toString), l)(_ => ())

  // ---- tombstones -------------------------------------------------------

  private def tombDir(path: String): Path = new Path(path, "tombstones")

  /** Append delete rows (the family's key column, plus whatever a serve
    * needs to correct statistics) to the index's pending tombstones. */
  def tombstone(path: String, rows: DataFrame): Unit =
    rows.write.mode("append").parquet(tombDir(path).toString)

  /** The pending tombstones of the index at `path`, listed once. */
  def tombstones(spark: SparkSession, path: String): Tombstones =
    new Tombstones(spark, ParquetConcat.dataFiles(
      spark.sparkContext.hadoopConfiguration, tombDir(path)))

  /** Pending deletes as listed once: `files`, and `rows` — a relation
    * over exactly those files, broadcast-gated on their bytes (None when
    * nothing is pending). */
  final class Tombstones private[IndexTables] (
      spark: SparkSession, private[IndexTables] val files: Seq[FileStatus]) {
    val rows: Option[DataFrame] =
      if (files.isEmpty) None
      else Some(maybeBroadcast(
        readFiles(spark, files.map(_.getPath.toString), files.headOption),
        files.map(_.getLen).sum))

    /** `df` without the rows whose `key` is tombstoned. */
    def antiJoin(df: DataFrame, key: String): DataFrame =
      rows.fold(df)(t => df.join(t.select(key), Seq(key), "left_anti"))
  }

  /** Fold the pending tombstones into the index at `path`: list them;
    * with none, or no live root, do nothing; else `rewrite(root, tomb)`,
    * then delete exactly the listed files. `always` rewrites with nothing
    * pending too and fails on a never-written path (a rebuild). */
  def foldTombstones(spark: SparkSession, path: String,
                     always: Boolean = false)(
      rewrite: (String, Tombstones) => Unit): Unit = {
    val tomb = tombstones(spark, path)
    val root =
      if (always) Some(liveDir(spark, path))
      else if (tomb.files.isEmpty) None
      else liveGenOpt(spark, path).map(_._2.toString)
    root.foreach { r =>
      rewrite(r, tomb)
      val f = fsOf(spark, path)
      tomb.files.foreach(st => f.delete(st.getPath, false))
    }
  }
}
