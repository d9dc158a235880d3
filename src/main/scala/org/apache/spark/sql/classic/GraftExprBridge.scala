package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Expression ↔ Column converters.
  *
  * Catalyst `Expression` is the sanctioned extension point for custom
  * scalar functions (graft's XsdTemporalExprs), but Spark 4's public
  * `Column` wraps a ColumnNode and the classic converter lives behind
  * `private[sql]` — this shim is the minimal, conventional way for an
  * external library to plug a custom Expression into the DataFrame API.
  */
object GraftExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan, for graft's own plan nodes
    * ([[graft.engine.KleenePlus]]); `Dataset.ofRows` is `private[sql]` too. */
  def ofRows(s: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(s.asInstanceOf[SparkSession], plan)
}
