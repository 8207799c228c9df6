package org.apache.spark.sql

/** Test access to the session CacheManager's package-private entry count. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
