package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge from a custom Catalyst [[LogicalPlan]] to a user-facing
  * DataFrame. `Dataset.ofRows` is `private[sql]`, so libraries that inject
  * their own logical operators expose it through a one-liner in this
  * package — the established public-extension pattern (the same shape as
  * open-source column-store / plan-extension projects; see SNIPPETS.md
  * entry [1]). Nothing else in the engine lives outside `graft.*`. */
object GraftLogicalPlanApi {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `internalCreateDataFrame` is `private[sql]`; a V1 streaming
    * [[org.apache.spark.sql.execution.streaming.Source]]'s `getBatch`
    * must return a DataFrame with `isStreaming = true` over the batch's
    * InternalRows — the same accessor every V1 streaming connector
    * (including Spark's own file source) reaches internally. */
  def streamingDataFrame(spark: org.apache.spark.sql.SparkSession,
                         rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                         schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The BATCH twin of [[streamingDataFrame]]: a V1 streaming
    * [[org.apache.spark.sql.execution.streaming.Sink]]'s `addBatch`
    * receives an incrementally-planned streaming DataFrame that batch
    * writers cannot consume directly — re-wrap its InternalRows as a
    * plain batch frame (the same move Spark's own FileStreamSink makes). */
  def batchDataFrame(spark: org.apache.spark.sql.SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Wrap a Catalyst [[org.apache.spark.sql.catalyst.expressions.Expression]]
    * as a user-facing Column (`ExpressionUtils.column` is `private[sql]`)
    * — the seam the SQL-DML rules use to hand rebound predicates to the
    * store's Column-typed row-level operations. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  /** The inverse seam (`ExpressionUtils.expression` is `private[sql]`):
    * a Column's Catalyst expression, for wrapping in a native expression
    * such as [[graft.functions.MinHashBands]]. */
  def expressionOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)
}
