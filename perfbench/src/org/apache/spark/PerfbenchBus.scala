package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a listener's counters are complete before they are read.
  * Lives in this package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
