package org.apache.spark

/** Test-only bridge: `SparkContext.listenerBus` is `private[spark]`, and a
  * test that asserts on listener events (e.g. that a request ran NO job)
  * must first wait until every event posted so far has been delivered.
  */
object ListenerBusTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
