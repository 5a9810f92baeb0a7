package org.apache.spark.sql

/** Test-side view of the session's CacheManager, whose entry count is
  * package-private to Spark SQL.
  */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
