package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access shim for the `private[sql]` seams every Spark extension library
  * needs when it ships a custom [[LogicalPlan]] operator (the standard
  * in-`org.apache.spark.sql`-package technique): materializing a
  * DataFrame from a hand-built plan, and reading a DataFrame's analyzed
  * plan to build on top of it. Nothing else crosses the boundary — the
  * operator itself ([[graft.plans.NativeAsOf]]) uses only public
  * catalyst/execution extension points. [[graft.Caches]] reads one more
  * seam, [[logicalPlan]], to recognize an action that consumed a frame.
  */
object GraftSqlBridge {

  /** DataFrame over a custom logical plan (runs the full analyzer →
    * optimizer → planner pipeline, strategies included). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame's analyzed plan — resolved attributes a custom operator
    * node can reference directly. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The plan node a DataFrame's derived frames and writers build on:
    * every `select`, `join` or `write` over `df` holds this exact object
    * (by reference) in its own logical plan. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Column over a custom catalyst Expression — the constructor every
    * non-SQL-registrable expression needs (e.g. one holding a Broadcast
    * handle, which cannot ride the function registry's `Seq[Expression]`
    * signature). Wraps `private[sql]` ExpressionUtils. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a classic Column (inverse of
    * [[column]]). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
