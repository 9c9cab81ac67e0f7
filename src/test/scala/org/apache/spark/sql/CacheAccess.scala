package org.apache.spark.sql

/** Test-only view of the session's cache registry, whose entry count
  * Spark keeps package-private.
  */
object CacheAccess {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
