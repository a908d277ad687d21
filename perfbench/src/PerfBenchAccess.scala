package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced span's counts are complete when it closes. The bus is
  * package-private to Spark, hence this one-method bridge. */
object PerfBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
