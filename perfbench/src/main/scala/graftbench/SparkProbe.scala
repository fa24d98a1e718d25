package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work seen from outside the program, through public listener APIs:
  * jobs (attributed to an op by the [[Recorder.OpKey]] local property the
  * calling thread carries), their tasks' metrics, Catalyst phase times per
  * query execution, codegen compiles and streaming progress. Only traced
  * runs register it, before set-up (a streaming query's cloned session
  * keeps the query-execution listeners registered when it started), and it
  * records only between [[start]] and [[stop]]. */
final class SparkProbe(spark: SparkSession) {

  final class Job(val id: Int, val op: Option[String], val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val m = new Array[Long](SparkProbe.TaskFields.size)
  }

  /** One query execution's Catalyst phase durations (ms). */
  final case class Qe(startMs: Long, analysis: Long, optimization: Long,
                      planning: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  @volatile private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Recorder.OpKey)))
      val j = new Job(e.jobId, op, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        val tm = e.taskMetrics
        if (tm != null) j.m.synchronized {
          val v = Seq(tm.executorRunTime, tm.jvmGCTime,
            tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead,
            tm.shuffleReadMetrics.totalBytesRead,
            tm.shuffleWriteMetrics.bytesWritten,
            tm.outputMetrics.bytesWritten, tm.outputMetrics.recordsWritten)
          v.indices.foreach(i => j.m(i) += v(i))
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (recording) {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis())
        qes.add(Qe(start, d("analysis"), d("optimization"), d("planning")))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording && e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Collection time of every JVM collector so far (driver and tasks
    * share the JVM in local mode). */
  private def gcTotalMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private var gcMs0, gcMs1 = 0L

  private var heapMaxMb = 0.0
  @volatile private var sampling = false
  private val heapThread = new Thread(() => {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    while (sampling) {
      val mb = mx.getHeapMemoryUsage.getUsed / 1048576.0
      if (mb > heapMaxMb) heapMaxMb = mb
      try Thread.sleep(50) catch { case _: InterruptedException => () }
    }
  }, "graftbench-heap")

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def start(): Unit = {
    gcMs0 = gcTotalMs
    recording = true
    sampling = true
    heapThread.setDaemon(true)
    heapThread.start()
  }

  /** Stop recording once every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.GraftbenchShim.drainListenerBus(spark.sparkContext)
    recording = false
    gcMs1 = gcTotalMs
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    sampling = false
    heapThread.interrupt()
    heapThread.join()
  }

  def heapUsedMbMax: Double = heapMaxMb
  /** JVM collection time between [[start]] and [[stop]]. */
  def jvmGcMs: Long = gcMs1 - gcMs0
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq
}

object SparkProbe {
  val TaskFields: IndexedSeq[String] = IndexedSeq("task_ms", "gc_ms",
    "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "output_bytes", "output_records")

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
