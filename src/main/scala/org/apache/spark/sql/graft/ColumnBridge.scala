package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column<->Expression converters, needed
  * to expose custom Catalyst expressions (e.g. graft's codegen'd ArrayDot)
  * through the public Column API on Spark 4.x, where `new Column(expr)`
  * no longer exists. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is `private[sql]` on Spark 4.x; graft's custom
    * logical operators (e.g. [[graft.plans.AsOfJoinPlan]]) need it to
    * wrap a hand-built LogicalPlan back into the public DataFrame API. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `SparkSession.internalCreateDataFrame` is `private[sql]`: a
    * DataFrame over an RDD of Catalyst internal rows, with no
    * conversion from external rows (e.g. [[graft.ops.ConnectedComponents]]'
    * typed kernel output). */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
