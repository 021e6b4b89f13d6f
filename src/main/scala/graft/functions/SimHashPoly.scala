package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash_poly(text)` — the 60-bit SimHash over the CROSS-ENGINE
  * hash family (#189's gate): tokenize on single spaces (dropping
  * empties, the `simhash64` grain), per-token 60-bit draw
  * v = h₁ + 2³⁰·h₂ where h₁/h₂ are [[PolyHash]]'s Horner folds over
  * code points (base 31 mod 1e9+7, base 131 mod 998244353 — two
  * decorrelated public primes, both < 2³⁰ so the draws pack without
  * overlap), accumulate ±1 per bit over all tokens
  * (multiplicity-weighted), emit bit j = 1 iff its counter is > 0.
  * A token-less document simhashes to 0 (all counters at their
  * zero tie → bit 0); gate callers filter such docs first, exactly
  * like the production #28.
  *
  * Same single-pass, map-side shape as [[SimHash64]] (which keeps the
  * better-mixed xxhash64 and all 64 bits); this family exists because
  * the DuckDB oracle can replay it exactly — two `list_reduce` folds
  * and `(v >> j) & 1` per bit. The 7-chunk/4-subset pigeonhole
  * banding is width-agnostic, so the 60-bit signature rides the same
  * `hammingNearDupPairs` path (the top chunk simply carries 4 dead
  * bits on both sides of every comparison).
  */
case class SimHashPoly(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_poly expects string, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_poly"

  override def nullSafeEval(text: Any): Any =
    SimHashPoly.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.SimHashPoly.compute($text);")

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly =
    copy(child = newChild)
}

object SimHashPoly {
  /** Single-pass 60-bit poly simhash; called from generated code via
    * the static forwarder. Token grain: split the decoded string on
    * U+0020, drop empties — `filter(split(text, ' '), t -> t <> '')`,
    * the oracle's `list_filter(string_split(text, ' '), ...)`.
    */
  def compute(text: UTF8String): Long = {
    val s = text.toString
    val counters = new Array[Int](60)
    var start = 0
    var p = 0
    val n = s.length
    while (p <= n) {
      if (p == n || s.charAt(p) == ' ') {
        if (p > start) {
          // two Horner folds over the token's code points
          var h1 = 0L
          var h2 = 0L
          var idx = start
          while (idx < p) {
            val cp = s.codePointAt(idx)
            h1 = (h1 * 31L + cp) % PolyHash.Mod1
            h2 = (h2 * 131L + cp) % PolyHash.Mod2
            idx += Character.charCount(cp)
          }
          val v = h1 + PolyHash.Shift2 * h2
          var j = 0
          while (j < 60) {
            if (((v >>> j) & 1L) != 0L) counters(j) += 1 else counters(j) -= 1
            j += 1
          }
        }
        start = p + 1
      }
      p += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (counters(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}
