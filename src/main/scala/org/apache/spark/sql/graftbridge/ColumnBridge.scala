package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge. Spark 4 moved the catalyst-
  * backed Column constructor behind `private[sql]` ExpressionUtils; this
  * one-file subpackage re-exports the two conversions the engine needs
  * to expose native expressions as Columns (same approach as any
  * third-party Spark extension library).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → CATALYST expression via the classic converter — unlike
    * [[expression]] (which may return a lazy ColumnNodeExpression
    * wrapper), this eagerly converts the column node tree, yielding
    * real `UnresolvedAttribute` / catalyst `SortOrder` nodes that
    * custom logical operators can resolve and pattern-match. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame over a custom logical plan (Dataset.ofRows is
    * private[sql] in Spark 4) — the entry point for custom
    * LogicalPlan operators like graft's RunningSum. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A private copy of `spark`'s session state (conf, temp views,
    * functions, query-execution listeners) over the same SparkContext;
    * a conf set on it never reaches `spark` (`cloneSession` is
    * private[sql] in Spark 4). Its `streams` manager starts empty. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Blocks until the context's listener bus has delivered every event
    * posted so far (`listenerBus` is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
