package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark reaches it
 * from here to wait until every posted event has been delivered. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
