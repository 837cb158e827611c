package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so an event is attributed to the entry that fired it.
  * The listener bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
