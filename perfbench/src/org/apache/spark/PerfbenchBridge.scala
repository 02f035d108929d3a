package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the
  * listener bus has delivered every posted event, so per-stage task metrics
  * are complete when an op's layer table is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
