package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `dot_product(a, b)` — ascending-index left-fold dot product of two
  * double arrays, codegen'd as one fused loop.
  *
  * Exists because the equivalent built-in pipeline
  * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)`)
  * runs on the interpreted higher-order-function path and materializes an
  * intermediate array per row — it dominated the embedding-LSH bucket
  * computation (32 plane dots per vector) before this expression.
  *
  * The fold order (0.0 + a0*b0) + a1*b1 + … is identical to the
  * interpreted pipeline above and to the DuckDB oracle's
  * `list_reduce(list_prepend(0.0, list_transform(...)))`, so double
  * outputs stay bit-identical across all three formulations. NULL
  * semantics also match the pipeline: mismatched lengths (zip_with
  * null-pads the shorter side) or a NULL element (null propagates
  * through the fold) yield NULL, not a silently truncated sum.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getDouble(i) * y.getDouble(i); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |boolean $bad = $n != $b.numElements();
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.isNull} = $bad;
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
}
