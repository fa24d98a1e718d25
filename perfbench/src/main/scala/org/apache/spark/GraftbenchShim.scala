package org.apache.spark

/** The one non-public Spark call the harness needs: wait until the
  * listener bus has delivered every queued event, so a traced run's job,
  * task and query records are complete before they are summed. */
object GraftbenchShim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
