package graftbench

import org.apache.spark.sql.SparkSession

/** `store`: the time-series store as its users drive it, in one closed
  * loop beside one open-loop writer. Two namespaces, each with its own
  * generator and model:
  *  - [[IngestWorkload]]: streaming `append`s through
  *    `StreamingIngest.start` and `statefulLatest`, and a `compact` after
  *    every few appends;
  *  - [[ServeWorkload]]: the reads `get`, `scan`, `sql_scan` and `latest`
  *    over a built namespace, beside its open-loop `put`/`takedown` writer.
  * Each group of the cycle is one of every read followed by the next op of
  * the ingest cycle, so reads and appends never overlap in the closed loop
  * and every op type keeps its own sample count. */
final class StoreWorkload(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  private val ingest = new IngestWorkload(spark, rec, seed)
  private val serve = new ServeWorkload(spark, rec, seed)

  val cycle: Seq[String] = ingest.cycle.flatMap(w => serve.cycle :+ w)
  override val openOps: Seq[String] = serve.openOps
  val writeOp = "append"

  def setup(dir: String): Unit = {
    ingest.setup(s"$dir/ingest")
    serve.setup(s"$dir/serve")
  }

  private[graftbench] def issue(op: String): Unit =
    if (ingest.closedOps.contains(op)) ingest.issue(op) else serve.issue(op)

  override private[graftbench] def alongside(deadlineNs: Long)(loop: => Unit): Unit =
    serve.alongside(deadlineNs)(loop)

  override def finalCheck(): Option[String] =
    (ingest.finalCheck() ++ serve.finalCheck()).reduceOption(_ + "; " + _)

  override def layerDetail(traced: Seq[OpSample], probe: SparkProbe): Map[String, Any] =
    Map("ingest" -> ingest.layerDetail(traced, probe),
      "serve" -> serve.layerDetail(traced, probe))

  override def close(): Unit = ingest.close()
}
