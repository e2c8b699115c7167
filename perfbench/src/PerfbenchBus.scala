package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener totals are complete when read. The bus is
  * package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
