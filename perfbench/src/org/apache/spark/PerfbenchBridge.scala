package org.apache.spark

/** The one Spark-private call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so per-span
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
