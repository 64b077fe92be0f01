package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test
  * listener's tally of a finished job is complete before it is read. Lives
  * in this package because the listener bus is private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
