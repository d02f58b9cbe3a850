package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression (and LogicalPlan → DataFrame) bridge. Spark 4
  * made these converters private[sql]; a library adding native
  * Catalyst expressions — or executing a sub-plan carved out of a
  * parsed statement (GraftSql) — needs them, so this object lives
  * inside the sql package tree (the same approach third-party Spark
  * extensions use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyze + wrap an unresolved logical plan as a DataFrame (the
    * session resolves relations against its catalog/temp views).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
