package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `gopher_rep_measures(text)` — the #144 Gopher repetition battery
  * (Rae et al. 2021 Table A1's repetition column) as ONE compiled
  * pass per row: a struct of the thirteen measures plus the verdict.
  *
  * Exists for the same reason as [[WordShingles]]: the equivalent
  * higher-order-function pipeline (nine `array_sort`s + linear
  * `aggregate` scan-accumulators over them) runs on the interpreted
  * HOF path at ~2 ms/doc — the most expensive query in the bench and
  * the dominant per-row cost at any scale (SCALING.md probe 18). Here
  * the whole battery is one static call inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the staged-select formulation and to
  * the relational DuckDB oracle, including the subtle corners:
  * character counts are CODE POINTS (Spark `length` / DuckDB
  * `length`, not UTF-16 units), segment trimming strips only the
  * space character (Spark/DuckDB `trim`), splits keep interior
  * empties exactly like `split(text, sep)` with limit −1, the top
  * n-gram tie-break compares gram strings in UTF-8 BYTE order
  * (Spark's string ordering), and the NULL rules are the dirty-record
  * rules stated on the operator. `CurationSpec` pins the planted
  * masses; the oracle gate pins the full corpus.
  */
case class GopherRepMeasures(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gopher_rep_measures expects string, got ${t.catalogString}")
    }
  override def dataType: DataType = GopherRepMeasures.schema
  override def prettyName: String = "gopher_rep_measures"

  override def nullSafeEval(text: Any): Any =
    GopherRepMeasures.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.GopherRepMeasures.compute($text);")

  override protected def withNewChildInternal(
      newChild: Expression): GopherRepMeasures = copy(child = newChild)
}

object GopherRepMeasures {
  private val topNs = Seq(2, 3, 4)
  private val dupNs = Seq(5, 6, 7, 8, 9, 10)

  /** Field order is the #144 output contract. */
  val measureNames: Seq[String] =
    Seq("dup_line_frac", "dup_line_char_frac",
      "dup_para_frac", "dup_para_char_frac") ++
      topNs.map(n => s"top_${n}gram_char_frac") ++
      dupNs.map(n => s"dup_${n}gram_char_frac")

  val schema: StructType = StructType(
    measureNames.map(StructField(_, DoubleType, nullable = true)) :+
      StructField("pass", BooleanType, nullable = false))

  private def cp(s: String): Long = s.codePointCount(0, s.length).toLong

  private val LinePat = java.util.regex.Pattern.compile("\n")
  private val ParaPat = java.util.regex.Pattern.compile("\n\n")

  /** Spark/DuckDB `trim`: strip the SPACE character only (not \t\r). */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** (n − distinct)/n and Σ(c−1)·len / Σc·len over a segment multiset;
    * NaN-free: returns (null, null)-coded NEGATIVE sentinels via the
    * caller when denominators are zero.
    */
  private def segStats(segs: Array[String]): (Long, Long, Long, Long) = {
    // counts per distinct value
    val m = new java.util.HashMap[String, Long](segs.length * 2)
    var total = 0L
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      total += cp(s)
      m.put(s, m.getOrDefault(s, 0L) + 1L)
      i += 1
    }
    var dup = 0L
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c >= 2L) dup += (c - 1L) * cp(e.getKey)
    }
    (segs.length.toLong, m.size.toLong, total, dup)
  }

  def compute(text: UTF8String): InternalRow = {
    val str = text.toString
    val toks = str.split(' ').filter(_.nonEmpty)
    val nWords = toks.length
    val nChars = cp(str)

    def segArray(pat: java.util.regex.Pattern): Array[String] =
      pat.split(str, -1).map(trimSpaces).filter(_.nonEmpty)
    val lines = segArray(LinePat)
    val paras = segArray(ParaPat)

    val out = new Array[Any](measureNames.length + 1)
    var idx = 0
    def emitSeg(segs: Array[String]): Unit = {
      val (n, d, total, dup) = segStats(segs)
      out(idx) = if (n == 0L) null else (n - d).toDouble / n
      idx += 1
      out(idx) = if (total == 0L) null else dup.toDouble / total
      idx += 1
    }
    emitSeg(lines)
    emitSeg(paras)

    // per n: gram counts. Gram code-point length = Σ token lengths +
    // (n−1) separators; token lengths precomputed once.
    val tokCp = new Array[Long](nWords)
    var t = 0
    while (t < nWords) { tokCp(t) = cp(toks(t)); t += 1 }
    def gramCounts(n: Int): java.util.HashMap[String, Long] = {
      val m = new java.util.HashMap[String, Long](math.max(4, nWords * 2))
      if (nWords >= n) {
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i + n <= nWords) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          val g = sb.toString
          m.put(g, m.getOrDefault(g, 0L) + 1L)
          i += 1
        }
      }
      m
    }
    def gramFrac(mass: Long): Any =
      if (nWords == 0 || nChars == 0L) null else mass.toDouble / nChars

    topNs.foreach { n =>
      val m = gramCounts(n)
      // max by (count, then UTF-8 byte order — Spark's string order)
      var bestC = 0L
      var bestG: String = null
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c > bestC || (c == bestC && bestG != null &&
            UTF8String.fromString(e.getKey)
              .compareTo(UTF8String.fromString(bestG)) > 0)) {
          bestC = c; bestG = e.getKey
        }
      }
      val mass = if (bestC >= 2L) bestC * cp(bestG) else 0L
      out(idx) = gramFrac(mass)
      idx += 1
    }
    dupNs.foreach { n =>
      val m = gramCounts(n)
      var mass = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c >= 2L) mass += (c - 1L) * cp(e.getKey)
      }
      out(idx) = gramFrac(mass)
      idx += 1
    }

    // the verdict: coalesce(measure <= tau, false) conjunction, taus
    // shared with the operator so the two cannot drift
    val taus: Seq[Double] =
      Seq(graft.operators.Text.RepLineTau,
        graft.operators.Text.RepLineCharTau,
        graft.operators.Text.RepLineTau,
        graft.operators.Text.RepLineCharTau) ++
        topNs.map(graft.operators.Text.TopGramTaus) ++
        dupNs.map(graft.operators.Text.DupGramTaus)
    var pass = true
    var k = 0
    while (k < taus.length) {
      val v = out(k)
      pass &&= (v != null && v.asInstanceOf[Double] <= taus(k))
      k += 1
    }
    out(idx) = pass
    new GenericInternalRow(out)
  }
}
