package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(text, n)` — the distinct word n-grams of `text`
  * (whitespace-tokenized, single-space-joined, first-occurrence order),
  * or an empty array when there are fewer than n tokens.
  *
  * Exists because the equivalent built-in pipeline
  * (`array_distinct(transform(sequence(...), i -> concat_ws(...)))`
  * over `filter(split(...))`) runs on the interpreted higher-order-
  * function path — ~1.8 ms/doc, the dominant cost of the dedup family
  * before this expression. Here the whole shingling is one static call
  * inside whole-stage codegen (the companion's `compute` gets a Java
  * static forwarder, so generated code invokes it directly).
  *
  * Semantics are identical to the SQL pipeline above and to the DuckDB
  * oracle's `list_distinct(list_transform(range(...), ...))` — the
  * dedup oracles keep using that formulation.
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects (string, int), got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(text: Any, n: Any): Any =
    WordShingles.compute(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, n) =>
      s"${ev.value} = graft.functions.WordShingles.compute($text, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

object WordShingles {
  /** Single-pass shingling; called from generated code via the static
    * forwarder. Tokenization = split on single spaces, drop empties
    * (matches `filter(split(text, ' '), t -> t <> '')`).
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    if (n <= 0 || toks.length < n)
      return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
