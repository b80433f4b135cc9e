package org.apache.spark

/** Listener events arrive asynchronously; the benchmark closes a measured
  * scope only after every event posted inside it has been delivered. The
  * bus that offers that wait is package-private to Spark, hence this
  * one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
