package org.apache.spark

/** The listener bus is package-private; a spec that counts events with a
  * listener waits here until every posted event has reached it. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
