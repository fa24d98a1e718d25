package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Binary parquet file concatenation, the copy step of every leaf
  * compaction ([[Generations.compact]]: the store's
  * [[TimeStore.compact]] and the persisted indexes'
  * [[graft.operators.IndexTables.compact]]): merges one leaf directory's
  * accumulated small parquet files by RAW ROW-GROUP COPY
  * (`ParquetFileReader.appendTo` — pages, dictionaries and row-group
  * statistics carry over intact; no decode, no re-encode, no writer
  * buffer; pure IO with the footers rewritten). Files append in name
  * order so the merged row groups preserve per-append locality and
  * min/max stats keep skipping.
  *
  * Reference analog: the rollover/compaction machinery that keeps bucket
  * objects file-sized (rados-timestore `StoreHelpers.hs:194-221`) — the
  * same "many small appends, periodically rewritten into one object"
  * lifecycle, expressed over parquet instead of RADOS objects.
  */
private[graft] object ParquetConcat {

  /** The mergeable data files of a directory, in name order (committer
    * markers and hidden files excluded). */
  def dataFiles(conf: Configuration, dir: Path): Seq[FileStatus] = {
    val f = dir.getFileSystem(conf)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .filter { st =>
        val nm = st.getPath.getName
        st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }
      .sortBy(_.getPath.getName)
  }

  /** Copy `files` into `dstDir` as `compacted-<i>.parquet`, one output
    * file per physical schema (i in order of first appearance), so no row
    * is ever decoded: every writer of the store and the indexes emits one
    * schema per table, and only files written before the store's writers
    * agreed on `required` point columns split a leaf in two. A schema
    * with a single input is byte-copied unchanged; an empty list writes
    * nothing. Key-value footer metadata is the UNION across a schema's
    * inputs — they normally carry identical entries (Spark's schema JSON),
    * and a genuine conflict fails loudly rather than silently dropping a
    * later file's entry (ADVICE r12). Overwrite mode makes task retries
    * idempotent. */
  def concat(conf: Configuration, files: Seq[FileStatus], dstDir: Path): Unit = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val f = dstDir.getFileSystem(conf)
    def copy(st: FileStatus, i: Int): Unit =
      org.apache.hadoop.fs.FileUtil.copy(st.getPath.getFileSystem(conf),
        st.getPath, f, new Path(dstDir, s"compacted-$i.parquet"), false, true, conf)
    if (files.sizeIs == 1) return copy(files.head, 0)
    // each file opens ONCE ([[ParquetOpen]], under the caller's conf): the
    // footer pass below and the row-group copy share that reader, so every
    // input of the directory stays open until the merged files are written
    val readers = scala.collection.mutable.ArrayBuffer.empty[ParquetFileReader]
    try {
      files.foreach(st => readers += ParquetOpen.open(conf, st))
      val inputs = readers.zip(files)
      def schema(r: ParquetFileReader) = r.getFooter.getFileMetaData.getSchema
      inputs.map(in => schema(in._1)).distinct.zipWithIndex.foreach { case (s, i) =>
        val group = inputs.filter(in => schema(in._1) == s)
        if (group.sizeIs == 1) copy(group.head._2, i)
        else {
          val kv = new java.util.HashMap[String, String]()
          group.foreach { case (r, st) =>
            r.getFooter.getFileMetaData.getKeyValueMetaData.forEach { (k, v) =>
              val prev = kv.putIfAbsent(k, v)
              require(prev == null || prev == v,
                s"concat: conflicting footer metadata for key '$k' at " +
                  s"${st.getPath} — refusing to drop one value silently")
            }
          }
          val w = new ParquetFileWriter(
            HadoopOutputFile.fromPath(new Path(dstDir, s"compacted-$i.parquet"), conf),
            s, ParquetFileWriter.Mode.OVERWRITE,
            ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
          w.start()
          group.foreach(_._1.appendTo(w))
          w.end(kv)
        }
      }
    } finally readers.foreach(_.close())
  }
}
