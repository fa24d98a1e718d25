package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Point
import graft.sources.TimeStore
import graft.streaming.StreamingIngest

/** The ingest half of [[StoreWorkload]]: the client hands seeded
  * micro-batches to two streaming queries, `StreamingIngest.start` into a
  * namespace and `StreamingIngest.statefulLatest` into a sink; an `append`
  * op completes when both have committed the batch. One op in every
  * [[IngestWorkload.CompactEvery]] is a `compact`. The two queries read
  * two memory sources fed the same batch (a memory source drops a batch
  * once one reader commits it, so two readers cannot share one).
  *
  * Batches mix simple points with ~20% extended points carrying 16-512 B
  * blobs, and ~5% late points whose times fall in earlier batches' ranges
  * and so route to older epochs. Every (address, time) is unique, so the
  * model's newest point per address is the only correct latest value. */
final class IngestWorkload(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  import IngestWorkload._

  val cycle: Seq[String] = "append" +: "compact" +: Seq.fill(CompactEvery - 2)("append")
  val writeOp = "append"

  private var n: TimeStore.Namespace = _
  private var in1: MemoryStream[Point] = _
  private var in2: MemoryStream[Point] = _
  private var queries: Seq[StreamingQuery] = Nil
  private val sink = new ConcurrentHashMap[Long, Point]()
  private var rng: java.util.Random = _
  private var batchNo = 0L
  // model: newest point per address, point counts per kind, watermarks
  private val newest = new java.util.HashMap[Long, Point]()
  private var counts = (0L, 0L)
  private var marks = (0L, 0L)
  private var userBytes = 0L

  def setup(dir: String): Unit = {
    import spark.implicits._
    rng = new java.util.Random(seed)
    batchNo = 0L
    newest.clear(); sink.clear()
    counts = (0L, 0L); marks = (0L, 0L); userBytes = 0L
    n = TimeStore.namespace(dir, "INGEST")
    TimeStore.register(spark, n, Buckets, Buckets)
    // the namespace starts with history: a bulk load through the batch API
    (1 to HistoryBatches).foreach { _ =>
      val b = nextBatch()
      TimeStore.writePoints(spark, n, spark.createDataset(b), RolloverBytes)
      model(b)
    }
    newest.clear() // the stateful stream only sees what is streamed
    in1 = MemoryStream[Point](implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    in2 = MemoryStream[Point](implicitly[org.apache.spark.sql.Encoder[Point]], spark)
    // the stream threads inherit the op property from the starting thread
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpKey, "append")
    try {
      val q1 = StreamingIngest.start(spark, n, in1.toDS(), s"$dir/ckpt-store",
        Trigger.ProcessingTime(0L), RolloverBytes)
      val q2 = StreamingIngest.statefulLatest(in2.toDS())
        .writeStream.outputMode("update")
        .trigger(Trigger.ProcessingTime(0L))
        .option("checkpointLocation", s"$dir/ckpt-latest")
        .foreachBatch { (ds: Dataset[Point], _: Long) =>
          ds.collect().foreach(p => sink.put(p.address, p))
        }.start()
      queries = Seq(q1, q2)
    } finally sc.setLocalProperty(Recorder.OpKey, null)
  }

  private def nextBatch(): Seq[Point] = {
    val b = batchNo
    batchNo += 1
    (0 until BatchPoints).map { j =>
      val late = b > 0 && rng.nextDouble() < LateShare
      val slot = if (late) (rng.nextLong() & Long.MaxValue) % b else b
      // unique time: the batch slot, the point index, and a late marker
      val t = T0 + (slot * BatchPoints + j) * 1000L + (if (late) 500L + b % 499 else 0L)
      if (rng.nextDouble() < ExtendedShare) {
        val a = (rng.nextInt(ExtendedAddresses).toLong << 1) | 1L
        val v = new Array[Byte](16 + rng.nextInt(497))
        rng.nextBytes(v)
        Point(a, t, v.length.toLong, v)
      } else Point(rng.nextInt(SimpleAddresses).toLong << 1, t, rng.nextLong())
    }
  }

  private def model(batch: Seq[Point]): Unit = batch.foreach { p =>
    val cur = newest.get(p.address)
    if (cur == null || p.time > cur.time) newest.put(p.address, p)
    if (p.isExtended) {
      counts = (counts._1, counts._2 + 1); marks = (marks._1, math.max(marks._2, p.time))
      userBytes += 24 + p.value.length
    } else {
      counts = (counts._1 + 1, counts._2); marks = (math.max(marks._1, p.time), marks._2)
      userBytes += 24
    }
  }

  private def check(batch: Seq[Point]): Option[String] = {
    val wrong = batch.map(_.address).distinct.filter(a => sink.get(a) != newest.get(a))
    val wm = TimeStore.fetchLatest(spark, n)
    if (wrong.nonEmpty)
      Some(s"stateful latest differs from the model on ${wrong.size} addresses")
    else if (wm != marks) Some(s"store watermarks $wm, model $marks")
    else None
  }

  private[graftbench] def issue(op: String): Unit =
    if (op == "compact")
      rec.op("compact")(rec.call("TimeStore.compact")(TimeStore.compact(spark, n)))(
        _ => None)
    else {
      val batch = nextBatch()
      rec.op("append") {
        rec.call("MemoryStream.addData") { in1.addData(batch); in2.addData(batch) }
        rec.call("StreamingQuery.processAllAvailable(store)")(queries(0).processAllAvailable())
        rec.call("StreamingQuery.processAllAvailable(latest)")(queries(1).processAllAvailable())
      } { _ => model(batch); check(batch) }
    }

  override def finalCheck(): Option[String] = {
    val got = spark.read.format("graft").option("root", n.root).option("ns", n.ns)
      .load().groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("simple" -> counts._1, "extended" -> counts._2).filter(_._2 > 0)
    if (got == want) None else Some(s"store holds $got points, model $want")
  }

  override def layerDetail(traced: Seq[OpSample], probe: SparkProbe): Map[String, Any] = {
    val prog = probe.progress.asScala.toSeq
    val label = Map(queries(0).id -> "store", queries(1).id -> "latest")
    val perQuery = prog.groupBy(p => label.getOrElse(p.id, p.id.toString)).map { case (q, ps) =>
      val parts = ps.flatMap(_.durationMs.asScala.keys).distinct.sorted
      val state = ps.flatMap(_.stateOperators)
      q -> (parts.map(k =>
        s"stream.${k}_ms" -> ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble)
          .getOrElse(0.0)).sum / ps.size).toMap ++ Map(
        "batches" -> ps.size,
        "state.instances" -> state.map(_.numStateStoreInstances).maxOption.getOrElse(0L),
        "state.commit_ms" -> (if (state.isEmpty) 0.0
          else state.map(_.commitTimeMs.toDouble).sum / state.size),
        "state.rows_total" -> state.map(_.numRowsTotal).maxOption.getOrElse(0L),
        "state.memory_bytes" -> state.map(_.memoryUsedBytes).maxOption.getOrElse(0L)))
    }
    val st = TimeStore.storeStats(spark, n)
    val appendJobs = probe.allJobs.filter(_.op.contains("append"))
    val outBytes = appendJobs.map(_.m(SparkProbe.TaskFields.indexOf("output_bytes"))).sum
    val points = counts._1 + counts._2
    Map(
      "queries" -> perQuery,
      // bytes Spark wrote per user byte handed in (24 B per point + blob)
      "append.write_amp" -> outBytes.toDouble / math.max(1.0,
        traced.count(_.op == "append") * BatchPoints * userBytes.toDouble /
          math.max(1L, points)),
      "store.points" -> points,
      "store.bytes_per_point" -> st.map(_.bytes).sum.toDouble / math.max(1L, points),
      "store.epochs" -> st.map(s => s.kind -> s.epochs).toMap,
      "store.files" -> st.map(_.files).sum,
      "store.user_bytes" -> userBytes)
  }

  override def close(): Unit = {
    queries.foreach(_.stop())
    queries = Nil
  }
}

object IngestWorkload {
  val BatchPoints = 5000
  val ExtendedShare = 0.2
  val LateShare = 0.05
  val SimpleAddresses = 4000
  val ExtendedAddresses = 1000
  val Buckets = 4
  val RolloverBytes: Long = 512L << 10
  val CompactEvery = 5
  val HistoryBatches = 2
  val T0 = 1700000000000000000L
}
