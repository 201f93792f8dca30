package org.apache.spark.perfbench

/** Waits until every posted listener event has been delivered, so counters
  * read after a query hold all of that query's events. The listener bus is
  * private to Spark's package, hence this one-line shim. */
object Bus {
  def flush(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
