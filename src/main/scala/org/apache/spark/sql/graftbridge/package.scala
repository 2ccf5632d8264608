package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Expression↔Column converters of
  * Spark 4's classic API — the sanctioned pattern for libraries that
  * register custom Catalyst expressions without a SQL-function
  * registry entry. */
package object graftbridge {
  def exprToColumn(e: Expression): Column = ExpressionUtils.column(e)
  def columnToExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (the `private[sql]`
    * `Dataset.ofRows`) — output attributes keep their exprIds, which
    * is what lets an optimizer rule hand plan fragments to the
    * DataFrame-level engine brain (JoinOrderer) and splice the
    * result back under the original output. */
  def planToDf(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The `private[sql]` session clone: shared SparkContext and shared
    * state, a private copy of the runtime conf, temp views,
    * extra optimizations and execution listeners. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
