package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `minhash_sig(shingles, k)` — the k-element MinHash signature of a
  * shingle set: `sig[i] = min over shingles of xxhash64(i, shingle)`,
  * or NULL for an empty set (an empty set has no minimum — callers
  * filter empty docs out, matching the explode-based formulation where
  * empty docs simply produce no rows).
  *
  * Hash-compatible with Spark SQL's `xxhash64(i, shingle)` (seed 42,
  * children chained: int then string), so signatures are bit-identical
  * to the previous explode → groupBy(doc) → 64×min-aggregate
  * formulation — but computed in ONE map-side pass per document with no
  * explode, no shuffle, and no 64-column aggregate. At 100 TB signature
  * computation is embarrassingly parallel; the banded-LSH bucket join
  * stays the only shuffle in the MinHash pipeline.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects (array<string>, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(shingles: Any, k: Any): Any =
    MinHashSig.compute(shingles.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultCode = nullSafeCodeGen(ctx, ev, (sh, k) =>
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($sh, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
    resultCode
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

object MinHashSig {
  private val Seed = 42L // Spark SQL xxhash64's fixed seed

  /** Null for an empty shingle set; otherwise the k min-hashes. Called
    * from generated code via the companion's static forwarder.
    */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0 || k <= 0) return null
    // per-slot seed = xxhash64 state after hashing the int i (what
    // Spark's xxhash64(i, s) threads into the string hash)
    val seeds = new Array[Long](k)
    var i = 0
    while (i < k) { seeds(i) = XXH64.hashInt(i, Seed); i += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (shingles.isNullAt(j)) {
        // a NULL shingle contributes the seed itself, exactly like the
        // explode formulation (xxhash64 skips null children, leaving
        // the state after hashInt(i)) — and never NPEs
        var i2 = 0
        while (i2 < k) {
          if (seeds(i2) < mins(i2)) mins(i2) = seeds(i2)
          i2 += 1
        }
      } else {
        val s = shingles.getUTF8String(j)
        var i2 = 0
        while (i2 < k) {
          val h = XXH64.hashUTF8String(s, seeds(i2))
          if (h < mins(i2)) mins(i2) = h
          i2 += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)
}
