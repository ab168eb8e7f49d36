package org.apache.spark

/** The benchmark reads listener counters right after an action; the
  * listener bus is asynchronous, so it drains the bus first. The drain
  * is package-private to Spark, hence this bridge.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
