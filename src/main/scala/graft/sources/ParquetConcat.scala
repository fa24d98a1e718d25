package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Binary parquet file concatenation shared by the store's bucket
  * compaction ([[TimeStore.compact]]) and the persisted ANN index
  * compaction ([[graft.operators.Similarity.indexCompact]]): merges one
  * directory's accumulated small parquet files into a single file by RAW
  * ROW-GROUP COPY (`ParquetFileReader.appendTo` — pages, dictionaries
  * and row-group statistics carry over intact; no decode, no re-encode, no
  * writer buffer; pure IO with the footers rewritten). Files append in
  * name order so the merged row groups preserve per-append locality and
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

  /** Merge `files` into `dstFile` when they all share one physical schema;
    * returns false (writing nothing) when schemas differ so the caller
    * picks its own fallback — the store re-encodes rows under its declared
    * point schema, the index (whose writers all emit one schema by
    * construction) fails loudly. A single input is byte-copied unchanged;
    * an empty list is a no-op. Key-value footer metadata is the UNION
    * across inputs — same-schema files normally carry identical entries
    * (Spark's schema JSON), and a genuine conflict fails loudly rather
    * than silently dropping a later file's entry (ADVICE r12). Overwrite
    * mode makes task retries idempotent. */
  def mergeSameSchema(conf: Configuration, files: Seq[FileStatus],
                      dstFile: Path): Boolean = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    if (files.isEmpty) return true
    val f = dstFile.getFileSystem(conf)
    f.mkdirs(dstFile.getParent)
    if (files.sizeIs == 1) {
      org.apache.hadoop.fs.FileUtil.copy(
        files.head.getPath.getFileSystem(conf), files.head.getPath,
        f, dstFile, false, true, conf)
      return true
    }
    // each file opens ONCE ([[ParquetOpen]], under the caller's conf): the
    // footer pass below and the row-group copy share that reader, so every
    // input of the directory stays open until the merged file is written
    val readers = scala.collection.mutable.ArrayBuffer.empty[ParquetFileReader]
    try {
      files.foreach(st => readers += ParquetOpen.open(conf, st))
      val metas = readers.map(_.getFooter.getFileMetaData)
      val schemas = metas.map(_.getSchema)
      if (!schemas.forall(_ == schemas.head)) return false
      val kv = new java.util.HashMap[String, String]()
      metas.zip(files).foreach { case (m, st) =>
        m.getKeyValueMetaData.forEach { (k, v) =>
          val prev = kv.putIfAbsent(k, v)
          require(prev == null || prev == v,
            s"concat: conflicting footer metadata for key '$k' at " +
              s"${st.getPath} — refusing to drop one value silently")
        }
      }
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(dstFile, conf),
        schemas.head, ParquetFileWriter.Mode.OVERWRITE,
        ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
      w.start()
      readers.foreach(_.appendTo(w))
      w.end(kv)
      true
    } finally readers.foreach(_.close())
  }
}
