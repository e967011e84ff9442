package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * per-call trace counts are complete before they are read. The listener
  * bus is Spark-internal; this object is the benchmark's only use of it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
