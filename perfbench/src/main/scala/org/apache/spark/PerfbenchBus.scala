package org.apache.spark

/** The listener bus is private to Spark; the traced run must drain it
  * before reading what its listener recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
