package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column ⇄ Expression converters so graft
  * can expose custom Catalyst expressions (e.g. graft.functions.VectorDot)
  * as ordinary `Column`s. This is the standard extension seam for
  * libraries shipping native expressions on Spark 4's ColumnNode API. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode → catalyst Expression conversion. Required when an
    * expression is handed to the FunctionRegistry: the lazy wrapper from
    * `expression` stays a ColumnNode shim that analysis won't unwrap
    * inside SQL function resolution ("Cannot generate code for
    * columnnodeexpression"). */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A DataFrame over `plan` — `Dataset.ofRows`, one analyzer run, the
    * same call every classic Dataset transformation ends in. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Truncate a DataFrame's LOGICAL lineage to a leaf while keeping the
    * (replayable) physical RDD chain: re-wrap its InternalRow RDD as a
    * LogicalRDD via the `private[sql]` internalCreateDataFrame. Used by
    * iterative operators (connected components) whose round plan would
    * otherwise grow exponentially in the analyzer. `Dataset.rdd` +
    * `createDataFrame(rowRDD, schema)` would do the same thing publicly,
    * but pays a per-row InternalRow⇄Row double conversion AND runs the
    * deserialization under its own SQL execution. No action is taken here
    * — `toRdd` just builds the RDD graph (keep AQE off in the calling
    * loop: adaptive plans execute their query stages eagerly inside
    * toRdd). */
  def truncateLineage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Apply a populated SparkSessionExtensions' injected functions into a
    * FunctionRegistry (the `private[sql]` half of what session building
    * does with `spark.sql.extensions`). Lets ExtensionsSpec verify
    * graft.GraftExtensions end-to-end against a FRESH registry without
    * tearing down the shared test session. */
  def registerInjectedFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)

  /** A fresh, empty FunctionRegistry (catalyst-internal constructor). */
  def emptyFunctionRegistry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
}
