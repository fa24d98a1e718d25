package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory

/** The one way graft opens a parquet file for reading or merging: under
  * the CALLER's Hadoop `Configuration`, through `HadoopReadOptions`.
  *
  * parquet-mr's conf-less convenience entry points — the one-argument
  * `ParquetFileReader.open`, the `ParquetReader` builder (its constructor
  * builds a conf before `withConf` replaces it) and the writer's
  * `appendFile` (which calls the one-argument open) — each construct a
  * fresh `Configuration` per file, and the first option lookup on it
  * parses `core-default.xml` out of the hadoop jar: about 12 ms per open
  * on a 4-vCPU VM, against about 0.5 ms for the same open under an
  * already-loaded conf (SCALE.md). A point-get opening a few dozen bucket
  * files spent most of its time parsing XML for a few KB of IO. A conf
  * the caller already holds has its resources loaded once, so callers
  * must pass theirs (the session's `hadoopConfiguration`, or its
  * broadcast copy inside tasks) — never a `new Configuration()`, which
  * re-pays the parse. */
private[graft] object ParquetOpen {

  /** Open `st` under `conf`. With `filter`, row groups its statistics
    * (and dictionaries/bloom filters, when present) rule out are skipped
    * at open and [[foreachGroup]] also drops non-matching pages and
    * records; without one, EVERY row group stays — a read filter a conf
    * might carry never applies, so a merge can never drop rows. */
  def open(conf: Configuration, st: FileStatus,
           filter: Option[FilterPredicate] = None): ParquetFileReader =
    open(conf, HadoopInputFile.fromStatus(st, conf), filter)

  /** [[open]] by path, for callers holding no `FileStatus` (one extra
    * metadata lookup for the length). */
  def open(conf: Configuration, path: Path,
           filter: Option[FilterPredicate]): ParquetFileReader =
    open(conf, HadoopInputFile.fromPath(path, conf), filter)

  private def open(conf: Configuration, in: HadoopInputFile,
                   filter: Option[FilterPredicate]): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(conf, in.getPath)
      .withRecordFilter(recordFilter(filter)).build())

  private def recordFilter(filter: Option[FilterPredicate]): FilterCompat.Filter =
    filter.fold(FilterCompat.NOOP)(p => FilterCompat.get(p))

  def withReader[A](conf: Configuration, st: FileStatus,
                    filter: Option[FilterPredicate] = None)
                   (f: ParquetFileReader => A): A = {
    val r = open(conf, st, filter)
    try f(r) finally r.close()
  }

  /** Every record of `st` that `filter` keeps, in file order, as a `Group`
    * under the file's own schema — the row loop `ParquetReader` runs over
    * a `GroupReadSupport`: filtered row groups (stats at open, column-index
    * page skipping per group), then record-level filtering while
    * assembling. Callers keep their own exact row checks after it. */
  def foreachGroup(conf: Configuration, st: FileStatus,
                   filter: Option[FilterPredicate] = None)
                  (f: Group => Unit): Unit =
    withReader(conf, st, filter) { r =>
      val meta = r.getFooter.getFileMetaData
      val schema = meta.getSchema
      val io = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(schema, schema, /*strict=*/ true)
      val rf = recordFilter(filter)
      var pages = r.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(schema), rf)
        var i = 0L
        val rows = pages.getRowCount
        while (i < rows) {
          val g = records.read()
          // null / skip: the record-level filter rejected this row
          if (g != null && !records.shouldSkipCurrentRecord) f(g)
          i += 1
        }
        pages = r.readNextFilteredRowGroup()
      }
    }
}
