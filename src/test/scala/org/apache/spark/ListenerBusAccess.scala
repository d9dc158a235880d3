package org.apache.spark

/** Test access to the listener bus: wait until every queued event has been
  * delivered, so listener-side job counts are complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
