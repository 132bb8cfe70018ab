package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so a
  * window's counters are complete when it is read. The listener bus is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
