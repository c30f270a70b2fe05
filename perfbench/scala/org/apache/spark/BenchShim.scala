package org.apache.spark

/** Package-private reach-in for the benchmark: listener events arrive on
  * an asynchronous bus, so the ledger drains it before reading totals.
  */
object BenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
