package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters — the
  * standard extension-library pattern for registering custom Catalyst
  * expressions without a full FunctionRegistry plugin (cf. the public
  * DatasetFactory/ExpressionUtils bridges in Spark extension projects).
  * Kept to these forwarders.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a builtin-style function (a real Expression, not a UDF)
    * into a live session's registry — the per-session complement of the
    * `SparkSessionExtensions.injectFunction` plugin path.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** A checkpointed DataFrame's rows as a new DataFrame over the same RDD,
    * without the statistics the checkpoint inherited from its plan
    * (`graft.InternalCaches.cut`). Unlike `createDataFrame(df.rdd, schema)`
    * it converts no rows.
    */
  def withoutStats(checkpointed: DataFrame): DataFrame =
    checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(checkpointed.queryExecution.logical
        .asInstanceOf[execution.LogicalRDD].rdd, checkpointed.schema)
}
