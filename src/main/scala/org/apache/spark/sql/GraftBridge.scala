package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 moved these converters behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so libraries that
  * define their own expressions expose them via an in-package shim —
  * the same pattern used by open-source Spark extensions (e.g. the
  * DatasetFactory/ColumnDataset shims in public projects).
  */
object GraftBridge {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def exprOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Column as a sort key: its own direction, else ascending. */
  def sortOrderOf(c: Column): catalyst.expressions.SortOrder =
    classic.ColumnConversions.expression(c) match {
      case s: catalyst.expressions.SortOrder => s
      case e => catalyst.expressions.SortOrder(e, catalyst.expressions.Ascending)
    }

  /** Physical-plan string (for plan-shape audits). */
  def explainString(df: Dataset[_], mode: String = "formatted"): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** Analyzed logical plan of a frame (for building custom operators). */
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a custom logical plan. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → fully-converted catalyst Expression, with unresolved
    * attributes resolved by name against `child`'s output (the lazy
    * ColumnNodeExpression wrapper from exprOf is Unevaluable at
    * runtime if it reaches a custom physical operator unresolved).
    */
  def resolvedExprOf(c: Column, child: catalyst.plans.logical.LogicalPlan)
      : catalyst.expressions.Expression =
    classic.ColumnConversions.expression(c).transformUp {
      case u: catalyst.analysis.UnresolvedAttribute =>
        child.output.find(_.name == u.name)
          .orElse(child.output.find(_.name.equalsIgnoreCase(u.name)))
          .getOrElse(throw new IllegalArgumentException(
            s"column ${u.name} not in ${child.output.map(_.name).mkString(",")}"))
    }
}
