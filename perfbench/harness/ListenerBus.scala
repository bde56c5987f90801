package org.apache.spark

/** The listener-bus barrier is `private[spark]`; the traced run calls it
  * once before reading listener totals, so every event of the timed
  * region has been delivered. Untraced runs never call it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
