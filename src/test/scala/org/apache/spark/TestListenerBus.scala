package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a spec can read what its listener saw. The listener bus is
  * package-private to Spark. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
