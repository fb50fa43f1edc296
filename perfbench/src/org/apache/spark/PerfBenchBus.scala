package org.apache.spark

/** Lets the benchmark wait until every listener event has been delivered,
  * so per-span counters are complete before they are read. The listener
  * bus is private to Spark, hence this one-line bridge in Spark's package.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
