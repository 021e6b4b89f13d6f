package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingle_hashes(text, n)` — `xxhash64` of each distinct word
  * n-gram of `text`, in first-occurrence order: exactly
  * `transform(word_shingles(text, n), s -> xxhash64(s))`, fused into
  * one codegen'd call.
  *
  * Exists because every dedup/contamination consumer of
  * [[WordShingles]] that does NOT need the shingle strings themselves
  * immediately hashes them (`explode` → `xxhash64` projection, or the
  * INTERPRETED `transform(..., s -> xxhash64(s))` HOF on the streaming
  * side): the string array is materialized (one `UTF8String` copy per
  * shingle), carried through the generator, then read once more by the
  * hash. Here the hash is computed from the shingle's UTF-8 bytes
  * inside the shingling loop — same bytes, same seed (42, Spark's
  * `xxhash64` default), bit-identical longs (FunctionsSpec pins the
  * equality against the unfused pipeline) — and the generator emits
  * 8-byte longs instead of strings.
  *
  * Distinctness is still decided on the STRING (LinkedHashSet of
  * shingles), not on the hash: if two distinct shingles ever collided,
  * the unfused pipeline would emit the duplicate hash twice and so
  * does this — the multiset of hashes is identical by construction.
  *
  * Sites that consume the shingle strings (minhash signatures, n-gram
  * stats readouts, `n_shingles` set sizes shared with string
  * consumers) keep [[WordShingles]]; the oracles keep the string-exact
  * DuckDB formulation either way.
  */
case class WordShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"word_shingle_hashes expects (string, int), got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override def nullSafeEval(text: Any, n: Any): Any =
    WordShingleHashes.compute(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, n) =>
      s"${ev.value} = graft.functions.WordShingleHashes.compute($text, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingleHashes =
    copy(left = newLeft, right = newRight)
}

object WordShingleHashes {
  /** Spark's `xxhash64` seed (`XxHash64` expression default). */
  private val Seed = 42L

  /** Single-pass shingle-and-hash; called from generated code via the
    * static forwarder. Tokenization and distinctness are
    * [[WordShingles.compute]]'s exactly (split on single spaces, drop
    * empties, LinkedHashSet on the joined string); the emitted long is
    * `XXH64.hashUnsafeBytes` over the shingle's UTF-8 bytes — the same
    * bytes `UTF8String.fromString(shingle)` would carry into Spark's
    * `xxhash64`.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    if (n <= 0 || toks.length < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
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
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      val b = it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(k) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, Seed)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
