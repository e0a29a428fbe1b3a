package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's per-op counters are complete before they are read. The
  * bus is package-private to Spark; this object only forwards to it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
