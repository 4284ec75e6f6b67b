package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the listener
  * bus has delivered every event, so a traced run's report is complete. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
