package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** The job listener the dev-loop tools share (JobProfile, ScaleProbe):
  * while `enabled`, each Spark job's wall time, description and task
  * totals, plus every task's duration by stage. Wall-clock alone
  * under-reports skew on a many-core box until the hot partition exceeds
  * what one core absorbs inside the job's natural tail — the max/median
  * task ratio, and the stage holding the slowest task, expose the
  * imbalance long before that. Listener events arrive asynchronously:
  * give the bus a beat after the measured action before reading. */
private[graft] final class JobTimes extends SparkListener {
  @volatile var enabled = false

  /** Per-job totals over the job's finished tasks. */
  final class Totals {
    val taskMs, gcMs, deserMs, tasks = new AtomicLong()
  }

  private val started = new ConcurrentHashMap[Int, java.lang.Long]()
  private val desc = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageName = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[Int, Totals]()
  private val taskDurs = new ConcurrentLinkedQueue[(Int, Long)]()
  /** Finished jobs as (job id, seconds, description), in end order. */
  val jobs = new CopyOnWriteArrayList[(Int, Double, String)]()

  def clear(): Unit = {
    Seq(started, desc, stageJob, stageName, totals).foreach(_.clear())
    taskDurs.clear(); jobs.clear()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (enabled) {
    started.put(j.jobId, System.nanoTime())
    j.stageInfos.foreach { s =>
      stageJob.put(s.stageId, j.jobId)
      stageName.put(s.stageId, s.name.takeWhile(_ != '\n'))
    }
    desc.put(j.jobId, Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty)
      .orElse(j.stageInfos.lastOption.map(_.name))
      .getOrElse(""))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (enabled) {
    taskDurs.add((t.stageId, t.taskInfo.duration))
    Option(stageJob.get(t.stageId)).foreach { jid =>
      val tot = totals.computeIfAbsent(jid, _ => new Totals)
      Option(t.taskMetrics).foreach { m =>
        tot.taskMs.addAndGet(m.executorRunTime)
        tot.gcMs.addAndGet(m.jvmGCTime)
        tot.deserMs.addAndGet(m.executorDeserializeTime)
      }
      tot.tasks.incrementAndGet()
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (enabled)
    Option(started.get(j.jobId)).foreach { s =>
      jobs.add((j.jobId, (System.nanoTime() - s) / 1e9,
        Option(desc.get(j.jobId)).getOrElse("")))
    }

  def totalsOf(jobId: Int): Totals =
    Option(totals.get(jobId)).getOrElse(new Totals)

  private def durs: Seq[(Int, Long)] = taskDurs.asScala.toSeq
  private def median(ds: Seq[Long]): Long = ds.sorted.apply(ds.size / 2)

  def maxTaskMs: Long = durs.map(_._2).maxOption.getOrElse(0L)
  def medTaskMs: Long = { val ds = durs.map(_._2); if (ds.isEmpty) 0L else median(ds) }

  /** The stage owning the slowest task, as (maxMs, medMs, tasks, name) —
    * the whole-op max/med ratio can't distinguish "one skewed stage" from
    * "a long stage among short ones"; this pins WHERE the tail lives. */
  def hotStage: (Long, Long, Int, String) =
    if (taskDurs.isEmpty) (0L, 0L, 0, "")
    else {
      val (sid, ds) = durs.groupMap(_._1)(_._2).maxBy(_._2.max)
      (ds.max, median(ds), ds.size, Option(stageName.get(sid)).getOrElse(""))
    }
}

/** Dev-loop profiler (optimization rounds): run one declared query with a
  * job-level listener and print each Spark job's wall time, so a gate's
  * seconds decompose into its constituent actions (train iterations, model
  * writes, data writes, probe collects, searches). Bench tells you WHICH
  * query is expensive; this tells you WHY — the §1 "empirical" loop of the
  * optimization guide without the (disabled) UI.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.JobProfile ann_imi_index_append'
  * }}}
  *
  * Each named query runs twice: an untimed warmup (JIT/codegen/footer
  * caching, exactly Bench's policy) and one profiled pass. Job rows print
  * as `job <id> <seconds> <first line of the job's callsite/description>`.
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      GraftSession.parseCpus(sys.env.get("SPARK_GRAFT_CPUS").orElse(Some("32"))))
    val listener = new JobTimes
    spark.sparkContext.addSparkListener(listener)

    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def cleanup(): Unit = {
      CacheScope.release(spark)
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      try { exec(fn(spark, sfDir)) } catch { case _: Throwable => } finally cleanup()
      listener.clear(); listener.enabled = true
      val t0 = System.nanoTime()
      exec(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a beat to drain
      Thread.sleep(400)
      listener.enabled = false
      cleanup()
      val jobs = listener.jobs.asScala.toSeq
      val (hsMax, hsMed, hsTasks, hsName) = listener.hotStage
      println(f"==== $name%s total ${total}%.3f s, ${jobs.size}%d jobs, " +
        f"in-job ${jobs.map(_._2).sum}%.3f s, hot stage $hsMax%d/$hsMed%d ms " +
        f"max/med over $hsTasks%d tasks ($hsName%s) ====")
      jobs.foreach { case (id, sec, d) =>
        val t = listener.totalsOf(id)
        println(f"  job $id%4d ${sec}%7.3f  task-sum ${t.taskMs.get / 1e3}%7.3f  " +
          f"gc ${t.gcMs.get / 1e3}%6.3f deser ${t.deserMs.get / 1e3}%6.3f " +
          f"tasks ${t.tasks.get}%3d  ${d.linesIterator.nextOption().getOrElse("").take(110)}%s")
      }
    }
    spark.stop()
  }
}
