package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_ngram_hashes(text, n)` — ALL rolling character n-gram hashes
  * of a string, WITH multiplicity, in stream order: the 31-base
  * polynomial mod 1e9+7 over Unicode CODE POINTS (the [[WinnowFps]] /
  * [[PolyHash]] cross-engine family — the DuckDB oracle replays the
  * identical Horner fold over `string_split(s, '') → ascii`). Strings
  * shorter than n code points hash to the empty array.
  *
  * This is [[WinnowFps]] without the winnowing pass — the frequency
  * grain the Cavnar–Trenkle n-gram language profiles (#192) rank,
  * where every occurrence must count (winnowing's density sampling
  * would bias the frequency ranks). Single primitive loop per
  * document, codegen'd via the static forwarder — the langid fit and
  * classify stages are pure map work feeding vocabulary-grain
  * aggregates.
  */
case class CharNgramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"char_ngram_hashes expects (string, int), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_hashes"

  override def nullSafeEval(text: Any, n: Any): Any =
    CharNgramHashes.compute(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, n) =>
      s"${ev.value} = graft.functions.CharNgramHashes.compute($text, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgramHashes =
    copy(left = newLeft, right = newRight)
}

object CharNgramHashes {
  private val Mod = 1000000007L

  /** One pass: decode code points, roll the n-gram polynomial — the
    * [[WinnowFps.compute]] rolling recurrence, emitted per position.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    require(n > 0, s"char_ngram_hashes needs a positive n, got $n")
    val s = text.toString
    val cps = new Array[Int](s.length)
    var cnt = 0
    var idx = 0
    while (idx < s.length) {
      val cp = s.codePointAt(idx)
      cps(cnt) = cp
      cnt += 1
      idx += Character.charCount(cp)
    }
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val m = cnt - n + 1
    var pow = 1L
    var t0 = 0
    while (t0 < n - 1) { pow = (pow * 31) % Mod; t0 += 1 }
    val out = new Array[Long](m)
    var acc = 0L
    var j = 0
    while (j < n) { acc = (acc * 31 + cps(j)) % Mod; j += 1 }
    out(0) = acc
    var i = 1
    while (i < m) {
      acc = ((acc + Mod - (cps(i - 1) * pow) % Mod) * 31 + cps(i + n - 1)) % Mod
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
