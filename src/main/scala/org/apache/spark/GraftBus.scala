package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the status tracker has seen each job an entry started. The listener
  * bus is private to Spark, hence this package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
