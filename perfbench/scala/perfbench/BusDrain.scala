package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every posted event, so a
  * trace read after the timed window is complete. The drain is Spark-internal
  * API, reachable only from inside the `org.apache.spark` package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
