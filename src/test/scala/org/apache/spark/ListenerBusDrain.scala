package org.apache.spark

/** The listener bus is private to Spark; job-counting tests wait until every
  * posted event has reached its listener before reading their counters. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
