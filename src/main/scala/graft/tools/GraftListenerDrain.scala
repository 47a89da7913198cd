package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * listener's counters are complete when they are read. Lives in Spark's
  * package because the bus is package-private. */
object GraftListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
