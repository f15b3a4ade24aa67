package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft needs: turning a hand-built
  * [[LogicalPlan]] into a [[DataFrame]] (and reading a frame's
  * analyzed plan back out) — the standard technique for libraries
  * that contribute whole logical operators rather than expressions.
  * Everything else in graft stays on the public API; keep this object
  * minimal so the internal surface area is auditable at a glance.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Column over a raw Catalyst expression — for expressions with
    * non-column construction parameters that the function-registry
    * seam (children-only) can't carry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
