package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` / `col.expr` surface;
  * the supported conversion lives in `classic.ExpressionUtils`, which is
  * `private[sql]`. This bridge re-exports the two conversions for graft's
  * custom Catalyst expressions — the standard packaging technique for
  * Spark extensions that ship native expressions — plus the
  * plan-to-DataFrame constructor custom relations need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, element and value nullable — what
    * `spark.read.schema(...)` applies to a file source's read schema
    * (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (`sessionState` is `private[sql]`).
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** DataFrame over a hand-built logical plan (e.g. a LogicalRelation
    * wrapping a custom FileIndex) — `Dataset.ofRows` is `private[sql]`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one (`isStreaming=true`
    * LogicalRDD) — what a V1 streaming `Source.getBatch` must return so
    * MicroBatchExecution can splice it into the incremental plan. The
    * constructor is `private[sql]` (`internalCreateDataFrame`); every
    * V1 connector reaches it this way. Lazy: planning happens when the
    * micro-batch executes, not here.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** The inverse of [[asStreaming]], for a V1 `Sink.addBatch`: the
    * DataFrame a sink receives is bound to the micro-batch's
    * IncrementalExecution, so re-planning it (any `df.write`) trips the
    * "streaming source without writeStream.start()" guard. Dropping to
    * the already-planned `toRdd` and re-wrapping yields an ordinary
    * batch DataFrame the table writers accept; the incremental plan
    * executes once, when the write consumes the RDD.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Register a native expression as a SQL function on a live session
    * (`sessionState` is `private[sql]`; extensions normally install at
    * session build via `spark.sql.extensions`).
    */
  def registerFunction(spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name, usage),
        builder)
}
