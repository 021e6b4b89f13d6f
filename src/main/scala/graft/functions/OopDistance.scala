package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StructType}

/** `oop_distance(prof, pm, n)` — the Cavnar–Trenkle OUT-OF-PLACE
  * distance between a document profile ([[CharNgramProfile]]'s
  * `array<struct<g: bigint, r: int>>`) and one language's rank map
  * `map<bigint, int>`: Σ over profile entries of `|r_doc − pm[g]|`,
  * with the maximum penalty `n` when the language profile lacks the
  * gram (the paper's "maximum distance").
  *
  * Exists because the equivalent `aggregate()` higher-order fold with
  * `element_at` runs INTERPRETED per element (#192's classify fan-out
  * evaluates docs × langs × N of them — measured ~1.8 s of the query's
  * wall at sf0.1, probe 25's lesson again): this is one compiled loop
  * per (doc, candidate) row. The map lookup is a linear scan of the
  * ≤N-entry map — 40×40 longs in compiled code is noise; no per-row
  * hash structure is built.
  */
case class OopDistance(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(st: StructType, _), MapType(LongType, IntegerType, _),
          IntegerType)
        if st.length == 2 && st(0).dataType == LongType &&
          st(1).dataType == IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"oop_distance expects (array<struct<g: bigint, r: int>>, " +
          s"map<bigint, int>, int), got (${a.catalogString}, " +
          s"${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "oop_distance"

  override def nullSafeEval(prof: Any, pm: Any, n: Any): Any =
    OopDistance.compute(prof.asInstanceOf[ArrayData],
      pm.asInstanceOf[MapData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (prof, pm, n) =>
      s"${ev.value} = graft.functions.OopDistance.compute($prof, $pm, $n);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): OopDistance =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object OopDistance {
  /** One compiled loop: for each (g, r) profile entry, linear-scan the
    * rank map's key array; missing key costs the full penalty n.
    */
  def compute(prof: ArrayData, pm: MapData, n: Int): Long = {
    val keys = pm.keyArray()
    val vals = pm.valueArray()
    val nk = keys.numElements()
    val np = prof.numElements()
    var sum = 0L
    var i = 0
    while (i < np) {
      val e = prof.getStruct(i, 2)
      val g = e.getLong(0)
      val r = e.getInt(1)
      var rl = -1
      var j = 0
      while (j < nk && rl < 0) {
        if (keys.getLong(j) == g) rl = vals.getInt(j)
        j += 1
      }
      sum += (if (rl < 0) n.toLong else math.abs(r.toLong - rl.toLong))
      i += 1
    }
    sum
  }
}
