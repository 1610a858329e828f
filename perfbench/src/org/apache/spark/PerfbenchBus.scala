package org.apache.spark

/** Listener events arrive asynchronously; a traced run drains the bus
  * before it reads the per-span task counters, and every pass drains it
  * before the heap is sampled. `waitUntilEmpty` is
  * private[spark], so the benchmark reaches it through this bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
