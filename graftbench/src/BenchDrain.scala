package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's listener has seen all jobs before the metrics are read.
  * Lives in Spark's package because the bus is package-private. */
object BenchDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
