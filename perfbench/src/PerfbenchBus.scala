package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait until
  * every posted event has reached its listener before it switches spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
