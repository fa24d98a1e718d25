package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator phase submits. A job carries the
  * `spark.job.description` local property of the thread that submitted
  * it (broadcast and subquery jobs inherit it through Spark's captured
  * thread locals), and listeners ([[JobProfile]], the bench's tracer) show
  * that description instead of a call site such as
  * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`.
  * Jobs a returned lazy frame runs later belong to the caller's action and
  * carry the caller's description. */
private[graft] object Trace {

  private val DescriptionKey = "spark.job.description"

  /** Run `body` with the job description `name` (for example
    * `bm25.search.terms`), then restore the previous one. */
  def phase[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, name)
    try body finally sc.setLocalProperty(DescriptionKey, prev)
  }
}
