package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private-API bridge: `Dataset.ofRows` is `private[sql]`, and
  * turning a custom [[LogicalPlan]] node into a DataFrame is the one
  * step of the custom-operator recipe (logical node → strategy → exec)
  * that needs it. This object is the library's only code inside the
  * Spark namespace. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → Catalyst Expression, converted EAGERLY (Spark 4 hides
    * `Column.expr` behind ColumnNode; the lazy `ExpressionUtils`
    * wrapper is only unwrapped by built-in operators' resolution
    * rules, so custom logical nodes need the direct conversion for
    * the analyzer's generic reference resolution to see the
    * UnresolvedAttributes). */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Catalyst Expression → Column (for custom aggregate expressions). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
