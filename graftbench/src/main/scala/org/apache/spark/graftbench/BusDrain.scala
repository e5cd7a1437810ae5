package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered what was posted so
  * far. Listener events are delivered asynchronously; the harness calls
  * this after an op returns so the op's job, task and query events are
  * all counted before its figures are read. The bus is package-private
  * to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
