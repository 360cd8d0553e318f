package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal private[sql] bridge between graft and Catalyst.
  *
  * Spark exposes plan→DataFrame and Expression↔Column conversion only to
  * its own packages (`classic.Dataset.ofRows`, `classic.ExpressionUtils`).
  * Custom whole-operator nodes (graft.plans.TopKPerKeyNode) need the
  * first to offer a DataFrame API entry that works on sessions built
  * without GraftExtensions; operators need the other two to use graft's
  * native expressions as Columns without binding a name in the caller's
  * function registry. This is the standard extension-library shim — one
  * line each, no behavior. (`toColumn`/`toExpr`, not `column`/
  * `expression`: `functions.column(String)` clashes under wildcard
  * imports.)
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
