package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `poly_hash(str)` — the whole-string 31-base polynomial over Unicode
  * CODE POINTS mod 1e9+7 ([[PolyHash.fold]], the cross-engine family
  * every hash-gated LSH twin already replays in DuckDB as
  * `list_reduce(string_split(s,'') → ascii, Horner)`). Exposed as a
  * scalar so operators that key on PER-TOKEN hashes (the #195
  * classifier's hashed-unigram features) get the codegen'd loop
  * instead of a HOF chain. Deterministic, non-negative, NULL-safe.
  */
case class PolyHashStr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case a => TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects a string, got ${a.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(s: Any): Any =
    PolyHash.fold(s.asInstanceOf[UTF8String], 31L, PolyHash.Mod1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PolyHash.fold($s, 31L, " +
        s"${PolyHash.Mod1}L);")

  override protected def withNewChildInternal(newChild: Expression): PolyHashStr =
    copy(child = newChild)
}
