package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single-session base for all specs (one JVM-wide SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(s: String): String = s"/root/testdata/sf$s"

  /** (description, stage names) of every job `body` submits, after
    * every job it started has ended and listener delivery went quiet. */
  def jobsOf(body: => Unit): Seq[(String, String)] = {
    val started = new ConcurrentLinkedQueue[(String, String)]()
    @volatile var ended = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add((Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), j.stageInfos.map(_.name).mkString("; ")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async: wait until every started job ended and
      // nothing new arrived for a while
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while ((ended < started.size || started.size != last) &&
             System.currentTimeMillis() < deadline) {
        last = started.size
        Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    started.asScala.toSeq
  }
}

object SparkSpec {
  // the engine configuration every entry point runs under (GraftSession)
  lazy val session: SparkSession = GraftSession.local(4)
}
