package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructType}

/** The classifier's fixed-point math as codegen'd/imperative JVM loops
  * instead of interpreted higher-order functions (r21 verdict item:
  * Catalyst does not codegen HOF lambdas, so the GD loop's map-side
  * fold — the thing that replaced the per-round shuffles — still paid
  * one interpreted `aggregate`/`transform` evaluation per doc row).
  *
  * Exactness contract (what keeps the weight trajectory bit-identical
  * to the HOF formulation and the oracle CTEs): every summand is the
  * same three IEEE ops — `floor((x * wᵢ) * 10⁶)` as a long — summed by
  * associative long addition, then ONE double division at readout.
  * `Math.floor` IS Spark's `floor` for doubles, `.toLong` IS Spark's
  * double→long cast on integral/NaN/±Inf values, and the multiply
  * order is the left-associative order the Column expression built.
  * FunctionsSpec pins both against the unfused HOF pipelines
  * element-for-element, including empty arrays and null propagation.
  *
  * The bit-identical claim holds for feature indices in `[0, len(w))`.
  * Outside that range the HOF's `element_at` gave null (or, for a
  * negative index, counted from the end); here the task fails with an
  * `ArrayIndexOutOfBoundsException` naming the index and the weights'
  * length, so a feature/weights dimension mismatch cannot score
  * silently.
  */
object ClassifierFx {

  /** Shared score kernel: Σ floor((x·w[i])·10⁶) as long over the
    * sparse vector, null on any null element/field (the HOF fold's
    * null propagation: one null summand nullifies the whole sum).
    * Boxed return so generated code can branch on null. */
  def fxScoreSum(fv: ArrayData, w: Array[Double]): java.lang.Long = {
    var acc = 0L
    val n = fv.numElements()
    var k = 0
    while (k < n) {
      if (fv.isNullAt(k)) return null
      val s = fv.getStruct(k, 2)
      if (s.isNullAt(0) || s.isNullAt(1)) return null
      val i = s.getInt(0)
      if (i < 0 || i >= w.length)
        throw new ArrayIndexOutOfBoundsException(
          s"fx_dot: feature index $i outside weights[0, ${w.length})")
      acc += java.lang.Math.floor(s.getDouble(1) * w(i) * 1000000.0).toLong
      k += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** fx_dot readout: the long sum divided down, or null. */
  def fxDot(fv: ArrayData, w: Array[Double]): java.lang.Double = {
    val s = fxScoreSum(fv, w)
    if (s == null) null else java.lang.Double.valueOf(s.longValue().toDouble / 1000000.0)
  }

  // kept because perfbench/scala/Probes.scala registers through this name
  def register(spark: SparkSession): Unit = SqlFunctions.install(spark)

  private[functions] def checkFvType(dt: DataType): Boolean = dt match {
    case ArrayType(st: StructType, _) =>
      st.length == 2 && st(0).dataType == IntegerType &&
        st(1).dataType == DoubleType
    case _ => false
  }

  /** The weights argument must be a FOLDABLE array<double> (the
    * driver-held model rides in as one literal); extracted once per
    * plan, embedded as a reference object in generated code. */
  private[functions] def weightsOf(e: Expression): Array[Double] = {
    val a = e.eval(InternalRow.empty)
    if (a == null) throw new IllegalArgumentException(
      "classifier weights literal must not be null")
    a.asInstanceOf[ArrayData].toDoubleArray()
  }
}

/** `fx_dot(fv, w)` — map-side fixed-point score of one collected
  * feature vector against a weights LITERAL: exactly
  * `aggregate(fv, 0L, (acc, s) -> acc + floor(s.x * w[s.i+1] * 1e6)
  * ::long)::double / 1e6`, fused into one whole-stage-codegen loop.
  */
case class SparseFxDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ClassifierFx.checkFvType(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"fx_dot expects array<struct<i:int,x:double>> features, got ${left.dataType.simpleString}")
    else if (right.dataType != ArrayType(DoubleType, false) &&
      right.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(
        s"fx_dot expects array<double> weights, got ${right.dataType.simpleString}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("fx_dot weights must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fx_dot"

  @transient private lazy val w: Array[Double] = ClassifierFx.weightsOf(right)

  override def nullSafeEval(fv: Any, unused: Any): Any =
    ClassifierFx.fxDot(fv.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("fxDotW", w, "double[]")
    nullSafeCodeGen(ctx, ev, (fv, _) => {
      val r = ctx.freshName("fxr")
      s"""
         |java.lang.Double $r = graft.functions.ClassifierFx.fxDot($fv, $wRef);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SparseFxDot =
    copy(left = newLeft, right = newRight)
}

/** `fx_grad(fv, y, w)` — the GD round's WHOLE gradient as one
  * map-side-combinable aggregate: per row, score the vector
  * (fx_dot's identical long sum), form the residual
  * `r = score − y`, and accumulate `floor((x·r)·10⁶)::long` into the
  * dims+1 bucket of a single long[] buffer; partial buffers add
  * elementwise. Replaces `explode(transform(fv, …))` +
  * `groupBy(i).sum` — which materialized one struct row per (doc,
  * bucket) through an interpreted lambda and hash-aggregated them —
  * with a direct indexed add, no per-element allocation, no exchange
  * of anything but 32 partial long[257] buffers.
  *
  * Null semantics mirror the exploded pipeline: a row with null fv,
  * null y, or any null element contributes NOTHING (there, the null
  * residual nullified every summand and `sum` skipped them).
  */
case class FxGradAgg(fv: Expression, y: Expression, wExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with TernaryLike[Expression] {

  override def first: Expression = fv
  override def second: Expression = y
  override def third: Expression = wExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ClassifierFx.checkFvType(fv.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"fx_grad expects array<struct<i:int,x:double>> features, got ${fv.dataType.simpleString}")
    else if (y.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"fx_grad expects a double label, got ${y.dataType.simpleString}")
    else if (!wExpr.foldable)
      TypeCheckResult.TypeCheckFailure("fx_grad weights must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val w: Array[Double] = ClassifierFx.weightsOf(wExpr)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "fx_grad"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](w.length)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val fvVal = fv.eval(input)
    val yVal = y.eval(input)
    if (fvVal == null || yVal == null) return buf
    val arr = fvVal.asInstanceOf[ArrayData]
    val s = ClassifierFx.fxScoreSum(arr, w)
    if (s == null) return buf
    val r = s.longValue().toDouble / 1000000.0 - yVal.asInstanceOf[Double]
    val n = arr.numElements()
    var k = 0
    while (k < n) {
      val e = arr.getStruct(k, 2)
      buf(e.getInt(0)) +=
        java.lang.Math.floor(e.getDouble(1) * r * 1000000.0).toLong
      k += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FxGradAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FxGradAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FxGradAgg =
    copy(fv = newFirst, y = newSecond, wExpr = newThird)
}
