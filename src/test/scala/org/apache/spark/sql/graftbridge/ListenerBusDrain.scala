package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Seam into the context's listener bus, which is private[spark]: specs
  * that count jobs or read executed plans through a listener wait here
  * until every event posted so far has been delivered, instead of
  * guessing when asynchronous delivery has settled. */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
