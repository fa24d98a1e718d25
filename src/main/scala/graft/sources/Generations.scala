package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The generation lifecycle shared by the store's points directories
  * ([[TimeStore]]) and the persisted indexes' roots and data tables
  * ([[graft.operators.IndexTables]]). Both keep file-sized objects the way
  * rados-timestore's rollover and compaction do (`StoreHelpers.hs:194-221`):
  * a rewrite lands as a NEW generation directory beside the live one.
  *
  * '''Commit.''' The live generation is the newest one holding a
  * `_SUCCESS` marker; readers honour only what a committed marker names
  * (the commit-marker rule of Structured Streaming's file sink). The
  * marker lands last, so a swap is atomic from a reader's view: before it
  * readers resolve the old generation, after it the new one, never
  * neither. A rewrite first [[claim]]s its slot, deleting the dead
  * attempt a crashed earlier rewrite left there.
  *
  * '''Retirement.''' A superseded generation is deleted only once its
  * supersession is older than [[TimeStore.LeaseTimeoutMs]], so a reader
  * that resolved it before the swap keeps scanning through any number of
  * back-to-back rewrites. The clock is a `_SUPERSEDED_AT` marker stamped
  * at first observation, never the superseder's `_SUCCESS` mtime, which
  * every append re-commits (a hot stream would hold the old copy
  * forever). First observation is at or after the true supersession, so
  * the marker only ever retains longer. A `_PINNED` generation is never
  * retired. Markers publish by temp file plus rename, and a marker that
  * does not parse (a writer died mid-publish on a store without atomic
  * rename) is stamped afresh: the clock restarts, the generation is kept
  * longer, nothing wedges.
  *
  * '''Compaction''' ([[compact]]): the live generation is listed once,
  * each leaf directory's files go to one executor task as (path, length)
  * pairs, and [[ParquetConcat.concat]] copies their row groups into the
  * next generation, one output file per physical schema — no row is
  * decoded. A single leaf under [[LocalMergeMaxBytes]] copies on the
  * driver instead: below that the job's scheduling floor dominates.
  *
  * Every caller holds its directory's single-writer scope (the store's
  * writer lease, an index's single maintainer). */
private[graft] object Generations {

  /** How a family names its generation directories under their parent. */
  sealed abstract class Naming {
    def dirName(g: Long): String
    def parse(name: String): Option[Long]
  }

  /** The store: `points` is generation 0, `points-g<k>` generation k. */
  object Points extends Naming {
    private val Re = "points-g([0-9]+)".r
    def dirName(g: Long): String = if (g == 0L) "points" else s"points-g$g"
    def parse(name: String): Option[Long] = name match {
      case "points" => Some(0L)
      case Re(g)    => Some(g.toLong)
      case _        => None
    }
  }

  /** Index roots and data tables: `gen-NNNNNN`. */
  object Numbered extends Naming {
    def dirName(g: Long): String = f"gen-$g%06d"
    def parse(name: String): Option[Long] =
      if (name.startsWith("gen-")) name.stripPrefix("gen-").toLongOption
      else None
  }

  private val SupersededAt = "_SUPERSEDED_AT"
  private val Pinned = "_PINNED"

  /** Byte ceiling under which a single-leaf compaction copies on the
    * driver instead of through a one-task Spark job. */
  private val LocalMergeMaxBytes: Long = 64L << 20

  /** All generations under `parent`, ascending: (generation, path). */
  def list(f: FileSystem, parent: Path, naming: Naming): Seq[(Long, Path)] =
    if (!f.exists(parent)) Nil
    else f.listStatus(parent).toSeq.filter(_.isDirectory)
      .flatMap(st => naming.parse(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)

  def isComplete(f: FileSystem, gen: Path): Boolean =
    f.exists(new Path(gen, "_SUCCESS"))

  def isPinned(f: FileSystem, gen: Path): Boolean =
    f.exists(new Path(gen, Pinned))

  /** The complete generations among `gens`; the last is the live one. */
  def complete(f: FileSystem, gens: Seq[(Long, Path)]): Seq[(Long, Path)] =
    gens.filter(g => isComplete(f, g._2))

  /** The directory of generation `g` under `parent`, any dead earlier
    * attempt there removed. */
  def claim(f: FileSystem, parent: Path, naming: Naming, g: Long): Path = {
    val p = new Path(parent, naming.dirName(g))
    if (f.exists(p)) f.delete(p, true)
    p
  }

  /** Make `gen` live: its `_SUCCESS` marker. */
  def commit(f: FileSystem, gen: Path): Unit =
    f.create(new Path(gen, "_SUCCESS"), true).close()

  /** Stamp, and past the lease horizon delete unless pinned, every
    * generation of `complete` (the [[complete]] ones, ascending) below the
    * last. */
  def retireSuperseded(f: FileSystem, complete: Seq[(Long, Path)]): Unit = {
    val now = System.currentTimeMillis()
    complete.dropRight(1).foreach { case (_, p) =>
      val marker = new Path(p, SupersededAt)
      readSmall(f, marker).flatMap(_.trim.toLongOption) match {
        case Some(at) =>
          if (now - at > TimeStore.LeaseTimeoutMs && !isPinned(f, p)) f.delete(p, true)
        case None => writeSmall(f, marker, now.toString)
      }
    }
  }

  /** Pin `gen` against retirement. */
  def pin(f: FileSystem, gen: Path): Unit =
    writeSmall(f, new Path(gen, Pinned), System.currentTimeMillis().toString)

  /** Drop generation `g`'s pin. On the pinned-to-unpinned transition of a
    * superseded generation the retirement clock restarts, so a reader of
    * the pinned snapshot keeps the full horizon; a repeated unpin changes
    * nothing. */
  def unpin(f: FileSystem, gens: Seq[(Long, Path)], g: Long): Unit =
    gens.collectFirst { case (`g`, p) => p }.foreach { p =>
      if (f.delete(new Path(p, Pinned), false) &&
          gens.exists { case (og, op) => og > g && isComplete(f, op) })
        writeSmall(f, new Path(p, SupersededAt),
          System.currentTimeMillis().toString)
    }

  /** The data files of generation `gen` by leaf directory, listed once:
    * (path relative to `gen`, "" for `gen` itself; its files in name
    * order). Markers, hidden files and `_`/`.` directories are skipped. */
  def leaves(f: FileSystem, gen: Path): Seq[(String, Seq[FileStatus])] = {
    def visible(st: FileStatus) = {
      val nm = st.getPath.getName
      !nm.startsWith("_") && !nm.startsWith(".")
    }
    def walk(dir: Path, rel: String): Seq[(String, Seq[FileStatus])] = {
      val (dirs, files) = f.listStatus(dir).toSeq.filter(visible)
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      (if (files.isEmpty) Nil else Seq(rel -> files)) ++ dirs.flatMap { d =>
        val nm = d.getPath.getName
        walk(d.getPath, if (rel.isEmpty) nm else s"$rel/$nm")
      }
    }
    walk(gen, "")
  }

  /** A generational directory as listed once: its [[complete]]
    * generations (the last is live) and the live one's [[leaves]]. */
  final case class Listing(parent: Path, naming: Naming,
                           complete: Seq[(Long, Path)],
                           leaves: Seq[(String, Seq[FileStatus])])

  def listing(f: FileSystem, parent: Path, naming: Naming): Listing = {
    val done = complete(f, list(f, parent, naming))
    Listing(parent, naming, done, done.lastOption.toSeq.flatMap(g => leaves(f, g._2)))
  }

  /** Compact the live generation of `l` into the next one, as the class
    * Scaladoc describes: claim, copy each leaf, `beforeCommit(next)`,
    * commit, retire. No-op when nothing is live. */
  def compact(spark: SparkSession, f: FileSystem, l: Listing)(
      beforeCommit: Path => Unit): Unit =
    l.complete.lastOption.foreach { case (g, _) =>
      val next = claim(f, l.parent, l.naming, g + 1)
      val work = l.leaves.map { case (rel, files) =>
        (rel, files.map(st => (st.getPath.toString, st.getLen)))
      }
      val nextStr = next.toString
      def copyLeaf(conf: org.apache.hadoop.conf.Configuration, rel: String,
                   files: Seq[(String, Long)]): Unit =
        ParquetConcat.concat(conf,
          files.map { case (p, len) => new FileStatus(len, false, 0, 0, 0, new Path(p)) },
          if (rel.isEmpty) new Path(nextStr) else new Path(nextStr, rel))
      val conf = spark.sparkContext.hadoopConfiguration
      if (work.size == 1 && work.head._2.map(_._2).sum <= LocalMergeMaxBytes)
        copyLeaf(conf, work.head._1, work.head._2)
      else if (work.nonEmpty) {
        // one leaf per task: the copy is IO-bound, and a retried task
        // overwrites its own output files, so tasks are idempotent
        val sconf = new SerializableHadoopConf(conf)
        spark.sparkContext.parallelize(work, work.size)
          .foreach { case (rel, files) => copyLeaf(sconf.conf, rel, files) }
      }
      beforeCommit(next)
      commit(f, next)
      retireSuperseded(f, l.complete :+ (g + 1 -> next))
    }

  /** Atomic small-file publish: a sibling temp file renamed over `p`.
    * Lock-free readers never see a torn or truncated file; on a store
    * whose rename will not clobber, the brief absence between delete and
    * rename reads as not-yet-written. */
  private[sources] def writeSmall(f: FileSystem, p: Path, body: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, p)) {
      f.delete(p, false)
      if (!f.rename(tmp, p)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"atomic publish failed for $p")
      }
    }
  }

  /** The text of `p`, or None when it does not exist — including inside
    * [[writeSmall]]'s delete-then-rename window. One open, no probe. */
  private[sources] def readSmall(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}
