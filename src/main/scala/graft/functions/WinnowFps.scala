package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_fps(text, k, w)` — the distinct WINNOWED fingerprint set of
  * a document (Schleimer/Wilkerson/Aiken, SIGMOD 2003): hash every
  * character k-gram with the 31-base polynomial mod 1e9+7 (the #35
  * rolling-hash family, over Unicode CODE POINTS so Spark and the
  * DuckDB oracle agree on astral-plane text), then keep the minimum
  * hash of each w-window of consecutive k-gram hashes, de-duplicated.
  * Documents shorter than k code points (or with fewer than w k-grams)
  * fingerprint to the empty set.
  *
  * The guarantee carried by (k, w): any substring match of length
  * ≥ k + w − 1 surfaces at least one SHARED fingerprint, while the
  * retained set is ~2/(w+1) of the k-gram stream — the paper's
  * expected density.
  *
  * This is a single primitive-loop pass per document (codegen'd via the
  * static forwarder) replacing a nested `transform`/`aggregate`
  * higher-order-function formulation that Catalyst can only interpret —
  * boxed per-element eval made it ~100× slower and CPU-bound on the
  * fingerprinting stage, which at 100 TB must be embarrassingly
  * parallel map work feeding the one candidate-join shuffle.
  */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects (string, int, int), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(text: Any, k: Any, w: Any): Any =
    WinnowFps.compute(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, k, w) =>
      s"${ev.value} = graft.functions.WinnowFps.compute($text, $k, $w);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFps =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFps {
  private val Mod = 1000000007L

  /** One pass: decode code points, hash k-grams, winnow w-windows.
    * Called from generated code via the static forwarder. Window
    * minima are collected first-occurrence-ordered (the downstream
    * explode/join is set-grain, so order never reaches a gate).
    */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    require(k > 0 && w > 0, s"winnow_fps needs positive dials, got k=$k w=$w")
    val s = text.toString
    // decode UTF-16 to code points (DuckDB's string_split('')/ascii grain)
    val cps = new Array[Int](s.length)
    var n = 0
    var idx = 0
    while (idx < s.length) {
      val cp = s.codePointAt(idx)
      cps(n) = cp
      n += 1
      idx += Character.charCount(cp)
    }
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val m = n - k + 1
    // true rolling evaluation of the same polynomial: drop the leading
    // code point (times 31^(k-1) mod p), shift, add the trailing one —
    // O(1) per position and bit-identical to the Horner fold the
    // DuckDB oracle replays
    var pow = 1L
    var t0 = 0
    while (t0 < k - 1) { pow = (pow * 31) % Mod; t0 += 1 }
    val kh = new Array[Long](m)
    var acc = 0L
    var j = 0
    while (j < k) { acc = (acc * 31 + cps(j)) % Mod; j += 1 }
    kh(0) = acc
    var i = 1
    while (i < m) {
      // (acc + Mod - lead) ≤ ~2·Mod ≈ 2e9; ×31 + cp stays well inside a long
      acc = ((acc + Mod - (cps(i - 1) * pow) % Mod) * 31 + cps(i + k - 1)) % Mod
      kh(i) = acc
      i += 1
    }
    if (m < w) return new GenericArrayData(Array.emptyLongArray)
    // sliding-window minimum via a monotonic index deque — O(1) amortized
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // dq[head until tail] holds ascending-kh candidate indices
    var p = 0
    while (p < m) {
      while (tail > head && kh(dq(tail - 1)) >= kh(p)) tail -= 1
      dq(tail) = p
      tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w - 1) seen.add(kh(dq(head)))
      p += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
