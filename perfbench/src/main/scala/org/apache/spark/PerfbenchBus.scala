package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced pass's counts are complete before its listeners are removed.
  * The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
