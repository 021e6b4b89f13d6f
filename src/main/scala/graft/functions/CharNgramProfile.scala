package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_ngram_profile(text, n, k)` — the Cavnar–Trenkle frequency
  * PROFILE of a string: its character n-gram hashes ([[CharNgramHashes]]
  * — the 31-base code-point polynomial mod 1e9+7, the cross-engine
  * PolyHash family) counted with multiplicity, ranked by
  * `(count DESC, hash ASC)`, truncated to the top `k`. Returns
  * `array<struct<g: bigint, r: int>>` with `r` = 1-based rank — exactly
  * the rows `row_number() OVER (PARTITION BY doc ORDER BY c DESC, g)`
  * ≤ k would produce, but computed per ROW.
  *
  * Why an expression and not the window it replaces (#192, VERDICT r16
  * item 2): a document arrives as ONE input row, so its gram counts and
  * ranks are a per-row computation — exploding to a (doc, gram) frame
  * only to shuffle it back together by doc paid two corpus-sized
  * exchanges for state that never needed to leave the row. With the
  * profile computed here, the langid classify side runs map-side end to
  * end and the only doc-grain exchange left is the final argmin
  * contraction (one row per document). The DuckDB oracle keeps the
  * relational formulation (unnest → count → row_number) — same math,
  * hash-gated.
  *
  * Strings shorter than n code points profile to the empty array (the
  * "no grams → no profile" contract the relational form had: such docs
  * classify as `unknown`).
  */
case class CharNgramProfile(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"char_ngram_profile expects (string, int, int), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = CharNgramProfile.OutType
  override def prettyName: String = "char_ngram_profile"

  override def nullSafeEval(text: Any, n: Any, k: Any): Any =
    CharNgramProfile.compute(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, n, k) =>
      s"${ev.value} = graft.functions.CharNgramProfile.compute($text, $n, $k);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): CharNgramProfile =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object CharNgramProfile {
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("g", LongType, nullable = false),
    StructField("r", IntegerType, nullable = false))), containsNull = false)

  /** One pass over the [[CharNgramHashes.compute]] stream: count by
    * hash, sort distinct hashes by (count desc, hash asc), emit the
    * top k as (g, rank). The distinct-gram set is bounded by the
    * document's length, so the sort is per-row-local and small.
    */
  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    require(k > 0, s"char_ngram_profile needs a positive k, got $k")
    val hs = CharNgramHashes.compute(text, n)
    val m = hs.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.HashMap[java.lang.Long, Array[Long]](m * 2)
    var i = 0
    while (i < m) {
      val g = hs.getLong(i)
      val slot = counts.get(g)
      if (slot == null) counts.put(g, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val d = counts.size()
    val gs = new Array[Long](d)
    val cs = new Array[Long](d)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      gs(j) = e.getKey
      cs(j) = e.getValue()(0)
      j += 1
    }
    // index sort by (count desc, hash asc)
    val idx = Array.range(0, d).sortWith { (a, b) =>
      if (cs(a) != cs(b)) cs(a) > cs(b) else gs(a) < gs(b)
    }
    val top = math.min(k, d)
    val out = new Array[Any](top)
    var r = 0
    while (r < top) {
      out(r) = new GenericInternalRow(
        Array[Any](gs(idx(r)), r + 1))
      r += 1
    }
    new GenericArrayData(out)
  }
}
