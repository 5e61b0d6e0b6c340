package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so task
  * totals read after a pass include every task of that pass.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
