package org.apache.spark

/** Waits until every queued listener event has been delivered, so metrics a
  * listener tallies for a finished job are complete before they are read.
  * Lives in this package because the listener bus is private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
