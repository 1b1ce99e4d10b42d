package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Test-side view of the session CacheManager, whose entry count is
  * `private[sql]` (hence this package, like main's [[CachedBytes]]). */
object CachedPlans {

  /** The number of plans the session's CacheManager holds. */
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager.numCachedEntries
}
