package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways the custom-operator layer needs:
  * wrapping a hand-built [[LogicalPlan]] back into a [[DataFrame]], and
  * a hand-built Catalyst expression into a [[Column]] (and back), so a
  * native function is usable without the session extension.
  * Spark deliberately keeps these package-private, and the
  * standard extension-library technique (GraphFrames, Sedona, Delta all
  * do the same) is a single bridge object inside the `sql` package.
  * Nothing else in this repo lives outside the `graft` namespace.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
