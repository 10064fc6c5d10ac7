package org.apache.spark.sql

/** Test-side read of a session's CacheManager entry count, which Spark
  * keeps `private[sql]` (the [[GraftColumnBridge]] pattern; classic
  * sessions only). */
object GraftCacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
