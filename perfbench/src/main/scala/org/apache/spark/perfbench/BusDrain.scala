package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so counters
  * read after a pass include all of that pass's events. The listener bus is
  * private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
