package org.apache.spark

/** Access to the `private[spark]` listener bus: wait until every queued event
  * has been delivered, so listener-side job and task counts are complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
