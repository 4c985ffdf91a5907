package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener's records are complete before the benchmark reads them. The
  * bus is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
