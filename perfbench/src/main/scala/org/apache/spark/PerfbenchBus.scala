package org.apache.spark

/** The listener bus is package-private; the benchmark must wait for it to
  * deliver every event of a traced window before reading its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
