package org.apache.spark

/** Test access to the listener bus: listener events are delivered
  * asynchronously, so a test that counts them waits for the queue to empty.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
