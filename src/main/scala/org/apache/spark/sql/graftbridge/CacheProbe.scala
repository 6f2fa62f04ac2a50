package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic.ClassicConversions._

/** Seam into the session's CacheManager, which is private[sql]: "does
  * this plan have an entry?" lets [[graft.Caching]] register a plan only
  * once (a repeated `cache()` logs a WARN per call) and lets an append
  * release only the entry it registered; bench tools and specs read it
  * and the entry count too. */
object CacheProbe {
  def isCached(ds: Dataset[_]): Boolean = {
    val classic = castToImpl(ds)
    classic.sparkSession.sharedState.cacheManager.lookupCachedData(classic).isDefined
  }

  /** How many plans the session's CacheManager holds. */
  def entries(spark: org.apache.spark.sql.SparkSession): Int =
    castToImpl(spark).sharedState.cacheManager.numCachedEntries
}
