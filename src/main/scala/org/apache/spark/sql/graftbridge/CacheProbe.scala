package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic.ClassicConversions._

/** Dev-tool seam: CacheManager is private[sql], but "is this plan still
  * cached?" is the one question a bench-cache regression hunt needs. */
object CacheProbe {
  def isCached(ds: Dataset[_]): Boolean = {
    val classic = castToImpl(ds)
    classic.sparkSession.sharedState.cacheManager.lookupCachedData(classic).isDefined
  }

  /** How many plans the session's CacheManager holds. */
  def entries(spark: org.apache.spark.sql.SparkSession): Int =
    castToImpl(spark).sharedState.cacheManager.numCachedEntries
}
