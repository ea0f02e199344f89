package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters.
  * Spark 4 moved Column onto ColumnNode; libraries adding native
  * Catalyst expressions go through classic.ExpressionUtils, which is
  * sql-package-private — hence this shim living under
  * org.apache.spark.sql (the standard extension-library technique).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan node (classic
    * Dataset.ofRows is sql-package-private, same technique as above). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  private def qe(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution

  /** A DataFrame's analyzed logical plan (for wiring custom nodes). */
  def analyzed(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = qe(df).analyzed

  /** A DataFrame's optimized logical plan (cached on the DataFrame, so
    * a later action on it does not optimize again). */
  def optimized(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = qe(df).optimizedPlan

  /** `schema` with every field, nested ones included, nullable. */
  def nullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  /** The streaming frame of a V1 `source`, as a custom source's own
    * `toDF` builds it. */
  def stream(spark: org.apache.spark.sql.SparkSession,
      source: org.apache.spark.sql.execution.streaming.Source): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.streaming.runtime.StreamingExecutionRelation(source,
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(source.schema), None)(spark))

  /** The RDD `df`'s executed plan produces, made once per DataFrame.
    * Under adaptive execution, the map stages of a plan with a shuffle
    * run when it is made. */
  def rdd(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = qe(df).toRdd

  /** `df`'s own plan as one micro-batch of `source`: its [[rdd]] as a
    * streaming `LogicalRDD`, whose rows are computed when a trigger
    * runs it. The rows are typed by the source's schema, not by `df`'s
    * own nullability: a column that holds no NULL in one batch must not
    * let a stateful operator compile out the NULL checks its state
    * from another batch needs. */
  def streamingBatch(df: org.apache.spark.sql.DataFrame,
      source: org.apache.spark.sql.execution.streaming.Source): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(source.schema), rdd(df),
      isStreaming = true, stream = Some(source))(spark))
  }
}
