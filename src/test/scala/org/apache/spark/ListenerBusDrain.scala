package org.apache.spark

/** Test-only bridge to the private[spark] listener bus: block until every
  * event posted so far has reached the listeners, so a listener's counts
  * are complete when a spec reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
