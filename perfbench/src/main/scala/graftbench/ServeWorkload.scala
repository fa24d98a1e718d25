package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Point
import graft.sources.TimeStore

/** The serve half of [[StoreWorkload]]: a built namespace read by the
  * closed-loop client while one open-loop writer puts points and issues
  * takedowns beside it.
  *
  * Reader cycle, parameters seeded: `get` (readSimpleLocal, one address),
  * `scan` (readSimple, 1-64 Zipf-skewed addresses, windows biased to
  * recent), `sql_scan` (the same contract as SQL over `format("graft")`)
  * and `latest` (latestPerAddress), in equal shares: no traffic data says
  * otherwise. Writer: `put` (writePointsLocal, 1-16 points) at a fixed rate,
  * every [[ServeWorkload.TakedownEvery]]th write a `takedown`
  * (deletePoints). Every read is checked against the model; addresses the
  * writer touched while the read was in flight are skipped, since either
  * state is a correct answer for them. */
final class ServeWorkload(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  import ServeWorkload._

  val cycle = Seq("get", "scan", "sql_scan", "latest")
  override val openOps = Seq("put", "takedown")
  val writeOp = "put"

  private var n: TimeStore.Namespace = _
  private var root: String = _
  private var model: StoreModel = _
  private var addrs: Array[Long] = _
  private var zipf: Zipf = _
  private val readRng = new java.util.Random(seed * 31 + 1)
  private val writeRng = new java.util.Random(seed * 31 + 2)
  private var putSeq = 0L
  private val lateMs = mutable.ArrayBuffer[Double]()

  def setup(dir: String): Unit = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    root = dir
    n = TimeStore.namespace(dir, "SERVE")
    TimeStore.register(spark, n, SimpleBuckets, 4)
    addrs = Array.tabulate(Addresses)(i => (i.toLong * 7919L + 104729L) << 1)
    zipf = new Zipf(Addresses, 1.1, rng)
    model = new StoreModel
    // each address gets a distinct-time series spread over the span
    val all = addrs.flatMap { a =>
      val c = PointsPerAddress / 2 + rng.nextInt(PointsPerAddress)
      val ts = mutable.HashSet[Long]()
      while (ts.size < c) ts += T0 + (rng.nextDouble() * SpanNs).toLong
      ts.toSeq.map(t => Point(a, t, rng.nextLong()))
    }
    // chronological chunks, so the small rollover threshold opens epochs
    all.sortBy(_.time).grouped(all.length / Chunks + 1).foreach { chunk =>
      TimeStore.writePoints(spark, n, spark.createDataset(chunk.toSeq), RolloverBytes)
    }
    model.put(all.toSeq)
    TimeStore.compact(spark, n)
    // a few fragments after compaction
    (1 to 2).foreach { _ =>
      val frag = (1 to 400).map { _ =>
        val a = addrs(rng.nextInt(addrs.length))
        Point(a, T0 + SpanNs - 1 - rng.nextInt(1 << 30), rng.nextLong())
      }.groupBy(p => (p.address, p.time)).values.map(_.head)
        .filterNot(p => model.contains(p.address, p.time)).toSeq
      TimeStore.writePoints(spark, n, spark.createDataset(frag), RolloverBytes)
      model.put(frag)
    }
    // pending takedown tombstones (never vacuumed)
    (1 to PendingTombstones).foreach { _ =>
      val a = addrs(rng.nextInt(addrs.length))
      val s = T0 + (rng.nextDouble() * SpanNs).toLong
      val e = s + (rng.nextDouble() * SpanNs / 20).toLong
      TimeStore.deletePoints(spark, n, Seq(a), s, e)
      model.delete(a, s, e)
    }
    putSeq = 0L
  }

  private def pickAddr(r: java.util.Random): Long = addrs(zipf.sample(r))

  /** A scan's address set and recent-biased window. */
  private def scanArgs(): (Seq[Long], Long, Long) = {
    val k = 1 + (63 * math.pow(readRng.nextDouble(), 2)).toInt
    val as = Seq.fill(k)(pickAddr(readRng)).distinct
    val latest = model.synchronized(model.maxTime)
    val back = (-math.log(1 - readRng.nextDouble()) * SpanNs / 10).toLong
    val end = math.max(T0, latest - back)
    val len = (SpanNs * math.pow(10, -3 + 3 * readRng.nextDouble())).toLong
    (as, math.max(T0, end - len), end)
  }

  private def sqlScan(as: Seq[Long], s: Long, e: Long): Seq[(Long, Long, Long)] = {
    spark.read.format("graft").option("root", root).option("ns", n.ns).load()
      .createOrReplaceTempView("graftbench_pts")
    spark.sql(
      s"""SELECT address, time, payload FROM (
         |  SELECT address, time, payload,
         |    row_number() OVER (PARTITION BY address, time ORDER BY payload) rn
         |  FROM graftbench_pts
         |  WHERE kind = 'simple' AND address IN (${as.mkString(",")})
         |    AND time BETWEEN $s AND $e
         |) WHERE rn = 1
         |ORDER BY time, address""".stripMargin)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  override private[graftbench] def alongside(deadlineNs: Long)(loop: => Unit): Unit = {
    val writer = new Thread(() => writeLoop(deadlineNs), "graftbench-writer")
    writer.start()
    try loop finally writer.join()
  }

  private[graftbench] def issue(op: String): Unit = {
    val rs = System.nanoTime()
    op match {
      case "get" =>
        val a = pickAddr(readRng)
        rec.op("get")(rec.call("TimeStore.readSimpleLocal")(
          TimeStore.readSimpleLocal(spark, n, 0L, -1L, Seq(a))
            .map(p => (p.address, p.time, p.payload))))(
          got => model.check(Seq(a), 0L, Long.MaxValue, got, rs))
      case "scan" =>
        val (as, s, e) = scanArgs()
        rec.op("scan") {
          val df = rec.call("TimeStore.readSimple")(
            TimeStore.readSimple(spark, n, s, e, as))
          rec.call("Dataset.collect")(df.collect().toSeq)
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }(got => model.check(as, s, e, got, rs))
      case "sql_scan" =>
        val (as, s, e) = scanArgs()
        rec.op("sql_scan")(rec.call("GraftTableProvider.sql")(sqlScan(as, s, e)))(
          got => model.check(as, s, e, got, rs))
      case "latest" =>
        rec.op("latest") {
          val df = rec.call("TimeStore.latestPerAddress")(
            TimeStore.latestPerAddress(spark, n, "simple"))
          rec.call("Dataset.collect")(df.collect().toSeq)
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }(got => model.checkLatest(got, rs))
    }
  }

  /** Open loop: write i is due at start + i / WriteRate, whatever the
    * store's latency; latency counts from the due time. */
  private def writeLoop(deadlineNs: Long): Unit = {
    val start = System.nanoTime()
    var i = 0L
    var due = start
    while (due < deadlineNs) {
      val now = System.nanoTime()
      if (due > now) Thread.sleep((due - now) / 1000000, ((due - now) % 1000000).toInt)
      if (rec.timing) lateMs.synchronized(lateMs += (System.nanoTime() - due) / 1e6)
      val a = pickAddr(writeRng)
      if (i % TakedownEvery == TakedownEvery - 1) {
        val s = T0 + (writeRng.nextDouble() * SpanNs).toLong
        val e = s + (writeRng.nextDouble() * SpanNs / 50).toLong
        model.begin(a)
        rec.op("takedown", due)(rec.call("TimeStore.deletePoints")(
          TimeStore.deletePoints(spark, n, Seq(a), s, e)))(_ => None)
        model.commit(a)(model.delete(a, s, e))
      } else {
        val pts = (0 until 1 + writeRng.nextInt(16)).map { j =>
          putSeq += 1
          Point(a, T0 + SpanNs + putSeq * 1000L + j, writeRng.nextLong())
        }
        model.begin(a)
        rec.op("put", due)(rec.call("TimeStore.writePointsLocal")(
          TimeStore.writePointsLocal(spark, n, pts, RolloverBytes)))(_ => None)
        model.commit(a)(model.put(pts))
      }
      i += 1
      due = start + (i * 1e9 / WriteRate).toLong
    }
  }

  override def finalCheck(): Option[String] = {
    val got = TimeStore.latestPerAddress(spark, n, "simple").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    model.checkLatest(got, System.nanoTime()).map("final latest: " + _)
  }

  override def layerDetail(traced: Seq[OpSample], probe: SparkProbe): Map[String, Any] = {
    val st = TimeStore.storeStats(spark, n).find(_.kind == "simple").get
    val pts = model.synchronized(model.pointCount)
    Map(
      "store.points" -> pts,
      "store.bytes_per_point" -> st.bytes.toDouble / math.max(1L, pts),
      "store.epochs" -> st.epochs,
      "store.files" -> st.files,
      "store.max_files_per_leaf" -> st.maxFilesPerLeaf,
      "store.pending_tombstones" -> st.pendingDeleteRanges,
      "put.late_ms_p90" -> lateMs.synchronized(Stats.quantile(lateMs.toSeq, 0.9)))
  }
}

object ServeWorkload {
  val Addresses = 2000
  val PointsPerAddress = 30
  val SimpleBuckets = 8
  val Chunks = 3
  val RolloverBytes: Long = 64L << 10
  val PendingTombstones = 8
  val T0 = 1700000000000000000L
  val SpanNs: Long = 30L * 86400L * 1000000000L
  val WriteRate = 5.0 // writes per second
  val TakedownEvery = 10
}

/** What the store should hold: points per address, takedown ranges, and
  * the writer's in-flight/last-commit times per address (System.nanoTime)
  * so a read can tell which addresses changed while it ran. */
final class StoreModel {
  private val pts = mutable.HashMap[Long, java.util.TreeMap[Long, Long]]()
  private val tombs = mutable.HashMap[Long, List[(Long, Long)]]()
  private val lastEnd = mutable.HashMap[Long, Long]()
  private var inflight: Option[Long] = None
  var maxTime = 0L

  def put(ps: Seq[Point]): Unit = synchronized {
    ps.foreach { p =>
      pts.getOrElseUpdate(p.address, new java.util.TreeMap()).put(p.time, p.payload)
      maxTime = math.max(maxTime, p.time)
    }
  }
  def delete(a: Long, s: Long, e: Long): Unit = synchronized {
    tombs(a) = (s, e) :: tombs.getOrElse(a, Nil)
  }
  def begin(a: Long): Unit = synchronized { inflight = Some(a) }
  def commit(a: Long)(apply: => Unit): Unit = synchronized {
    apply
    lastEnd(a) = System.nanoTime()
    inflight = None
  }
  def contains(a: Long, t: Long): Boolean =
    synchronized(pts.get(a).exists(_.containsKey(t)))
  def pointCount: Long = synchronized(pts.values.map(_.size.toLong).sum)

  private def uncertain(a: Long, readStartNs: Long): Boolean =
    inflight.contains(a) || lastEnd.get(a).exists(_ >= readStartNs)

  private def survivors(a: Long, s: Long, e: Long): Seq[(Long, Long, Long)] = {
    val m = pts.get(a)
    if (m.isEmpty) Nil
    else {
      val ts = tombs.getOrElse(a, Nil)
      import scala.jdk.CollectionConverters._
      m.get.subMap(s, true, e, true).asScala.toSeq
        .filterNot { case (t, _) => ts.exists { case (x, y) => t >= x && t <= y } }
        .map { case (t, p) => (a, t, p) }
    }
  }

  /** Rows of a scan/get over `addrs` in [s, e], in (time, address) order. */
  def check(addrs: Seq[Long], s: Long, e: Long, got: Seq[(Long, Long, Long)],
            readStartNs: Long): Option[String] = synchronized {
    val sure = addrs.distinct.filterNot(uncertain(_, readStartNs)).toSet
    val want = sure.toSeq.flatMap(survivors(_, s, e))
      .sortBy { case (a, t, _) => (t, a) }
    val have = got.filter(r => sure.contains(r._1))
    val ordered = got.map(r => (r._2, r._1)) == got.map(r => (r._2, r._1)).sorted
    if (!ordered) Some("rows not in (time, address) order")
    else if (have != want)
      Some(s"${have.size} rows for ${sure.size} checked addresses, model has ${want.size}" +
        s" (first diff: ${have.diff(want).headOption} / ${want.diff(have).headOption})")
    else None
  }

  /** Newest surviving point per address. */
  def checkLatest(got: Seq[(Long, Long, Long)], readStartNs: Long): Option[String] =
    synchronized {
      val byAddr = got.groupBy(_._1)
      if (byAddr.exists(_._2.size > 1)) return Some("address repeated in latest")
      val bad = pts.keys.filterNot(uncertain(_, readStartNs)).flatMap { a =>
        val want = survivors(a, Long.MinValue, Long.MaxValue).lastOption
        val have = byAddr.get(a).map(_.head)
        if (want == have) None else Some((a, want, have))
      }
      if (bad.isEmpty) None
      else Some(s"${bad.size} addresses differ, e.g. ${bad.head}")
    }
}
