package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced run's records are complete before they are dumped. The bus is
  * package-private; this is the one call the benchmark needs from it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
