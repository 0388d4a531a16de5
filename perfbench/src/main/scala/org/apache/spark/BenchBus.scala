package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-op counters are complete when an op is closed.
  * The listener bus is internal to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
