package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it so
  * that counters read after a query include every event the query raised.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
