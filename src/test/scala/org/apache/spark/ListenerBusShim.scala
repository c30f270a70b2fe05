package org.apache.spark

/** Package-private reach-in for tests: listener events arrive on an
  * asynchronous bus, so a test drains it before reading what a listener
  * recorded.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
