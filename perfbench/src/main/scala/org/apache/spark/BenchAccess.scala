package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting for the listener
  * bus to deliver pending events before reading listener counts.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
