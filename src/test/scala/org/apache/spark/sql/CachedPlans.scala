package org.apache.spark.sql

/** Test access to the session's cache manager, whose entry count is
  * private to Spark SQL. */
object CachedPlans {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
