package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a traced run can read its listeners' state without losing the
  * tail of a pass. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
