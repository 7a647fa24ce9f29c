package org.apache.spark

/** The listener bus is package-private to Spark; the tracer needs to wait
  * until every posted event has been delivered before it reads its totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
