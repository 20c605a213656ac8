package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

/** Test access to the session's CacheManager (its entry count is
  * `private[sql]`): a frame's `cache()` registers an entry as soon as
  * it is called, before any action runs.
  */
object CacheBridge {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
