package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to `org.apache.spark`. */
object Bus {
  /** Blocks until every event posted so far has reached every listener, so
    * that counters read after an operation belong to that operation. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
