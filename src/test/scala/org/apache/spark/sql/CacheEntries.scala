package org.apache.spark.sql

/** The number of relations registered with the session's shared
  * CacheManager, which Spark keeps package-private: a spec that checks
  * a call's cache footprint reads it before and after the call. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
