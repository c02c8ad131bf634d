package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the classic `Dataset.ofRows` factory (`private[sql]`) so the
  * graft package can materialize a DataFrame from its own logical plan nodes
  * (SURVEY §2.11 rung (c): custom `LogicalPlan` + `SparkStrategy`).
  *
  * This file lives under `org.apache.spark.sql` solely to satisfy the
  * `private[sql]` access scope — the standard pattern for Spark extension
  * libraries that construct plans directly. It contains no Spark code and
  * shadows nothing.
  */
object GraftPlanBridge {

  /** Wrap a logical plan as a DataFrame on the given session (runs the full
    * analyzer/optimizer/planner pipeline on collect, like any DataFrame). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a Column (for custom expressions
    * that take non-expression constructor parameters and so cannot go
    * through the FunctionRegistry, e.g. a plane matrix). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every queued listener-bus event has been delivered
    * (`listenerBus` is `private[spark]`). For measurement harnesses that
    * attribute task metrics to the job that just ran: a fixed sleep bounds
    * straggler events only by luck on a loaded host; draining the bus
    * bounds them by construction. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
