package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression conversion for graft's SQL-function
  * helper: Spark 4 keeps `ExpressionUtils` `private[sql]`, so the two
  * calls are forwarded from a package under `org.apache.spark.sql`.
  */
object ColumnExpressions {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
