package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType}

/** `usable_vec(v, dim)` — the shared usable-vector predicate of every
  * embedding gate (review r15), as ONE codegen'd pass: length == dim,
  * no NULL element, and a finite positive self-dot (sum of squares).
  * Exactly the oracles' `len(v) = dim AND no-null AND isfinite(fold)
  * AND fold > 0`. The HOF formulation (`exists(v, isNull)` + a fold)
  * evaluates interpreted per element and measurably taxed the brute
  * ANN scans; this is a primitive loop with an early null exit.
  */
case class UsableVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"usable_vec expects (array<double>, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "usable_vec"

  override def nullSafeEval(v: Any, dim: Any): Any =
    UsableVec.compute(v.asInstanceOf[ArrayData], dim.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, d) =>
      s"${ev.value} = graft.functions.UsableVec.compute($v, $d);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UsableVec =
    copy(left = newLeft, right = newRight)
}

object UsableVec {
  /** One pass; called from generated code via the static forwarder. */
  def compute(v: ArrayData, dim: Int): Boolean = {
    if (v.numElements() != dim) return false
    var acc = 0.0
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return false
      val x = v.getDouble(i)
      acc += x * x
      i += 1
    }
    // finite positive: rejects 0, NaN (self-compare), and +inf (sum of
    // squares cannot reach -inf)
    acc > 0 && !java.lang.Double.isNaN(acc) &&
      acc != java.lang.Double.POSITIVE_INFINITY
  }
}
