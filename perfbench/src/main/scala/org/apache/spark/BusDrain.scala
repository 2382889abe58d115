package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete counters (the bus is private to Spark). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
