package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass is complete before its counters are read. Lives in Spark's
  * package because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
