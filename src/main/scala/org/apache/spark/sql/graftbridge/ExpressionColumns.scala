package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The package-private Spark 4 conversions between a Catalyst
  * [[Expression]] and a [[Column]]. graft's native expressions are built
  * into plans through these, so they plan the same on every session,
  * whether or not it registered their SQL names. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
