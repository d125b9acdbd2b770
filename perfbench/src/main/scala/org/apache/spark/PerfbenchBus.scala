package org.apache.spark

/** The listener bus is private to Spark; the benchmark's traced runs must
  * wait until every queued event reached their listener before they detach
  * it or write out their spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
