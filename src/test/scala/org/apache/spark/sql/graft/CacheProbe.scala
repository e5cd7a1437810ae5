package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache registry, whose entry count is
  * package-private to Spark. */
object CacheProbe {
  /** Number of DataFrames currently registered by persist()/cache(). */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
