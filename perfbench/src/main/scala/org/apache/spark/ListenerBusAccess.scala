package org.apache.spark

/** The listener bus is package-private; tracing needs to wait until every
  * posted event has reached the listeners before closing a query's span. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
