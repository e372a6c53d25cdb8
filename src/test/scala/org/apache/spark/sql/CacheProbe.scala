package org.apache.spark.sql

/** Test-only view of the session CacheManager's entry count, which
  * Spark keeps package-private. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
