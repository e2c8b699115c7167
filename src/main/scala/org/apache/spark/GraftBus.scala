package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's tallies are complete when read. The bus is package-private
  * to Spark, hence this package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
