package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to Spark's listener bus, whose drain is package-private. */
object ListenerProbe {
  /** Blocks until every event posted so far reached its listeners. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
