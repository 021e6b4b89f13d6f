package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd cosine similarity over two double arrays (SURVEY.md §4:
  * the one place built-ins can't express the semantics efficiently —
  * `aggregate(zip_with(...))` builds an intermediate array per row;
  * this expression is a single fused loop inside whole-stage codegen).
  *
  * Accumulation is an ascending-index left fold (dot, ‖a‖², ‖b‖² as
  * independent accumulators), so results are bit-identical to any
  * engine that folds left-to-right — which is what the DuckDB oracle
  * does via `list_reduce(list_prepend(0.0, ...))`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  /** NULL, not NaN, for undefined cosines — the dirty-embedding rule.
    * A zero-norm vector (failed upstream embedding job) used to yield
    * NaN, which Spark's descending sort ranks ABOVE every real score:
    * one dead vector would sit atop every query's top-k at 100 TB.
    * NULL instead ranks last / drops from τ-filters in BOTH engines,
    * and matches what the DuckDB oracles already compute for the same
    * rows (0/0 → NULL; fixed-dim indexing off a short vector → NULL).
    * Length mismatch is NULL for the same reason (DotProduct's
    * documented rule). NaN-poisoned ELEMENTS also collapse to NULL
    * here; the oracles cannot express that case (DuckDB arithmetic
    * keeps NaN and sorts it greatest), so element-level NaN stays out
    * of the planted-corpus contract — validate upstream.
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val r = dot / (math.sqrt(na) * math.sqrt(nb))
    if (java.lang.Double.isNaN(r)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  double $r = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |  if (Double.isNaN($r)) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
