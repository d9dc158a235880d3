package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the listener bus
  * has delivered every queued event, so per-span job counts are complete. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
