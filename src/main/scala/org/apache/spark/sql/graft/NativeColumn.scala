package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A [[Column]] holding a Catalyst expression, and the expression a
  * Column holds. Spark 4 keeps both conversions `private[sql]`; this
  * object sits under that package only to reach them, so a native
  * expression's Column face needs no function registry on the session
  * it runs in. */
object NativeColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
