package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after an operation include all of its
  * events. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
