package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made `ExpressionUtils` private[sql] (Column wraps a
  * ColumnNode, not an Expression, since the connect/classic split), so
  * libraries adding custom expressions need a shim inside the sql
  * package namespace — the established pattern for Spark extension
  * libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Full ColumnNode→Expression conversion (function calls become
    * catalyst `UnresolvedFunction`s the analyzer resolves) — what a
    * FunctionRegistry builder needs when the function body is COMPOSED
    * from `functions._` columns rather than a single native
    * expression. `expression` above merely wraps the node
    * (Unevaluable), which explodes at codegen if left in the plan. */
  def expressionTree(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame → its logical plan, for TableFunctionRegistry builders
    * (a SQL table-valued function body built with the DataFrame API
    * splices in as the TVF's plan; the analyzer resolves it like any
    * subquery). Classic-only, like the rest of this bridge. */
  def plan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical

  /** Logical plan → DataFrame (`Dataset.ofRows`, private[sql]): how a
    * library turns a relation it built — a DSv2 scan over its own
    * table — into a frame without a reader option round-trip. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wait until every event already posted to the listener bus
    * (private[spark]) has been delivered to the listeners. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
