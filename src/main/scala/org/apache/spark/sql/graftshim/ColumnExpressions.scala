package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Column ↔ Catalyst Expression conversion and the arity error for
  * graft's SQL-function table: Spark 4 keeps `ExpressionUtils` and
  * `QueryCompilationErrors` `private[sql]`, so the calls are forwarded
  * from a package under `org.apache.spark.sql`.
  */
object ColumnExpressions {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The `AnalysisException [WRONG_NUM_ARGS]` Spark's built-ins raise
    * for a call with the wrong argument count. */
  def wrongNumArgs(name: String, arity: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), actual)
}
