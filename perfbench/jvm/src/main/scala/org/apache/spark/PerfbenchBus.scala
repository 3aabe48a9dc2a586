package org.apache.spark

/** The listener bus is private to Spark; the benchmark's traced run needs
  * to wait until every posted event has been delivered before it reads
  * the counts its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
