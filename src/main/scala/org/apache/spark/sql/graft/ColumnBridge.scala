package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters (Spark 4
  * moved `Column` onto ColumnNode; this is the supported path for libraries
  * defining custom Catalyst expressions — same idiom used by Delta/Sedona-style
  * extensions). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from an InternalRow RDD (`internalCreateDataFrame` is
    * `private[sql]`). */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Build a DataFrame over a custom logical plan (`Dataset.ofRows` is
    * `private[sql]`) — how library-defined LogicalPlan nodes (e.g.
    * [[graft.plans.AsOfMerge]]) enter the DataFrame API. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every event posted so far has reached its listeners
    * (`listenerBus` is `private[spark]`) — a `QueryExecutionListener` is
    * called from the bus, after the action returns. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
