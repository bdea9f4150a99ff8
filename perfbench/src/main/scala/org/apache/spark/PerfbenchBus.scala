package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so per-operation listener counts are complete before they are read.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
