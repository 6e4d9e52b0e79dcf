package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read right after an operation include all of its tasks. The listener bus
  * is private to Spark, hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
