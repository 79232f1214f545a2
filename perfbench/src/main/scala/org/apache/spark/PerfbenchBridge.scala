package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so a counter
  * snapshot taken right after an action includes that action's jobs. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
