package org.apache.spark

/** Lets the benchmark wait until every listener event of an op has been
  * delivered before it reads its counters; the bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
