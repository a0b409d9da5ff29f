package org.apache.spark.sql

/** The number of frames a session holds as persisted (cached) plans, for
  * specs that check a run leaves none behind: the count is private to
  * Spark, and a persisted frame registers here before any of its blocks
  * is built. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
