package org.apache.spark

/** Test access to the listener bus drain (private to Spark): listener
  * events arrive asynchronously, so a spec that counts jobs or captures
  * plans drains the bus before it reads what its listener saw. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
