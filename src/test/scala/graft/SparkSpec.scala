package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single-session base for all specs (one JVM-wide SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(s: String): String = s"/root/testdata/sf$s"
}

object SparkSpec {
  // the engine configuration every entry point runs under (GraftSession)
  lazy val session: SparkSession = GraftSession.local(4)
}
