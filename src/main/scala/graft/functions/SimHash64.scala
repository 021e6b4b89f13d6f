package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)` — the 64-bit SimHash of a document: tokenize on
  * single spaces (dropping empties), hash each token with Spark SQL's
  * `xxhash64` (seed 42), accumulate ±1 per bit position over all tokens
  * (multiplicity-weighted), emit bit i = 1 iff its counter is > 0.
  *
  * Bit-identical to the previous explode → groupBy(doc) →
  * 64×`sum(when(bit,1,-1))`-aggregate formulation, but computed in ONE
  * map-side pass per document: no token explode, no shuffle, no
  * 64-column aggregate. At 100 TB signature computation is
  * embarrassingly parallel; the pigeonhole chunk join stays the only
  * shuffle in the SimHash pipeline.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects string, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(text: Any): Any =
    SimHash64.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.SimHash64.compute($text);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private val Seed = 42L // Spark SQL xxhash64's fixed seed

  /** Single-pass simhash; called from generated code via the static
    * forwarder. Tokenization matches `filter(split(text, ' '), t -> t <> '')`
    * — implemented as a scan over the raw UTF-8 bytes (0x20 is a
    * single-byte code point that cannot occur inside a multi-byte
    * sequence, so byte-splitting on it is exact) with each token's byte
    * range hashed in place: no String decode, no per-token allocation.
    */
  def compute(text: UTF8String): Long = {
    val counters = new Array[Int](64)
    val base = text.getBaseObject
    val offset = text.getBaseOffset
    val len = text.numBytes
    var start = 0
    var p = 0
    while (p <= len) {
      if (p == len || org.apache.spark.unsafe.Platform.getByte(base, offset + p) == 0x20.toByte) {
        if (p > start) {
          val h = XXH64.hashUnsafeBytes(base, offset + start, p - start, Seed)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) != 0L) counters(i) += 1 else counters(i) -= 1
            i += 1
          }
        }
        start = p + 1
      }
      p += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counters(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
