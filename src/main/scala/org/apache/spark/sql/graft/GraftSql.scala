package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Minimal bridge into `private[sql]` plan construction — the standard
  * shim every SparkSessionExtensions-based library uses to hand a
  * custom LogicalPlan (here [[graft.plans.AsOfJoinNode]]) or a custom
  * Catalyst expression (the [[graft.functions.GraftFunctions]]
  * builders) back to the public DataFrame API. Nothing else from the
  * internal surface is exposed. */
object GraftSql {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Column over an expression built directly, with no name lookup
    * in any session's function registry. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
