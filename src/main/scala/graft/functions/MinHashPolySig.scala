package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `minhash_poly_sig(shingles, k)` — the k-element MinHash signature
  * over the CROSS-ENGINE hash family (#188's gate): base hash of a
  * shingle = [[PolyHash]]'s 31-base polynomial mod 1e9+7 over code
  * points, slot i's draw = (a_i·h + b_i) mod p with the MINSTD
  * constants of [[PolyHash.abPairs]], signature = per-slot minimum
  * over the shingle set. NULL for an empty set (no minimum — callers
  * filter, the [[MinHashSig]] convention).
  *
  * Same single-pass, map-side, no-explode shape as the production
  * [[MinHashSig]] (which keeps the better-mixed seeded xxhash64);
  * this family exists because the DuckDB oracle can replay it exactly
  * — `(a·h + b) % p` over a `list_reduce` Horner fold. All arithmetic
  * stays inside a long: a, b, h < 2^30, so a·h + b < 2^60.
  */
case class MinHashPolySig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_poly_sig expects (array<string>, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_poly_sig"

  override def nullSafeEval(shingles: Any, k: Any): Any =
    MinHashPolySig.compute(shingles.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, k) =>
      s"""
         |${ev.value} = graft.functions.MinHashPolySig.compute($sh, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashPolySig =
    copy(left = newLeft, right = newRight)
}

object MinHashPolySig {
  private val cached =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def consts(k: Int): (Array[Long], Array[Long]) =
    cached.computeIfAbsent(k, PolyHash.abPairs(_))

  /** Null for an empty shingle set; otherwise the k slot minima.
    * Called from generated code via the companion's static forwarder.
    * NULL shingle elements are skipped (the shingle producers emit
    * none; the oracle's unnest has none either).
    */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0 || k <= 0) return null
    val (a, b) = consts(k)
    val mins = Array.fill(k)(Long.MaxValue)
    var sawOne = false
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        sawOne = true
        val h = PolyHash.fold(shingles.getUTF8String(j), 31L, PolyHash.Mod1)
        var i = 0
        while (i < k) {
          val v = (a(i) * h + b(i)) % PolyHash.Mod1
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!sawOne) return null
    new GenericArrayData(mins)
  }
}
