package org.apache.spark

/** The one engine-internal call the benchmark needs: drain the listener
  * bus, so a pass's listener counters are complete before they are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
