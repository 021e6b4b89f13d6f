package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The r22 classifier kernels ([[graft.functions.SparseFxDot]],
  * [[graft.functions.FxGradAgg]]) pinned bit-identical to the
  * interpreted HOF formulations they replaced — on REAL feature
  * vectors (the corpus builder, bias entries included) and planted
  * null/empty corners. The fit trajectory is a composition of exactly
  * these two kernels, so these pins are the semantics-preservation
  * argument for the classifier trio's r22 plan change.
  */
class ClassifierFxSpec extends SparkSpec {

  private def registered() = {
    graft.api.Graft.install(spark)
    spark
  }

  /** The pre-r22 interpreted score fold, verbatim. */
  private def refScore(fvCol: Column, w: Array[Double]): Column = {
    val wl = typedLit(w.toSeq)
    aggregate(fvCol, lit(0L), (acc, s) =>
      acc + floor(s.getField("x") * element_at(wl, s.getField("i") + lit(1))
        * lit(1000000.0)).cast("long"))
      .cast("double") / lit(1000000.0)
  }

  private val w257: Array[Double] =
    Array.tabulate(257)(i => math.sin(i.toDouble) / 8.0 - 0.01)

  test("fx_dot == interpreted aggregate-HOF score on real feature vectors") {
    registered()
    val docs = Tables.documents(spark, sf)
    val featV = graft.operators.Text.classifierFeatureVecs(docs, "doc_id", "text")
    val cmp = featV.select(
      call_function("fx_dot", col("fv"), typedLit(w257.toSeq)).as("fast"),
      refScore(col("fv"), w257).as("slow"))
    assert(cmp.where(not(col("fast") <=> col("slow"))).count() == 0,
      "fx_dot diverges from the HOF fold on real vectors")
    // the fold must be EXACT, not approximately equal: spot-check bits
    val rows = cmp.limit(50).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("fx_dot corners: empty array -> 0.0, null fv / null element -> null") {
    registered()
    import spark.implicits._
    val planted = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(array() AS array<struct<i:int,x:double>>)),
        |  (CAST(NULL AS array<struct<i:int,x:double>>)),
        |  (array(named_struct('i', 0, 'x', CAST(NULL AS double)))),
        |  (array(named_struct('i', CAST(NULL AS int), 'x', 1.0))),
        |  (array(named_struct('i', 5, 'x', 0.25), named_struct('i', 256, 'x', 1.0)))
        |AS t(fv)""".stripMargin)
    val out = planted.select(
      call_function("fx_dot", col("fv"), typedLit(w257.toSeq)).as("fast"),
      refScore(col("fv"), w257).as("slow")).collect()
    assert(out(0).getDouble(0) == 0.0 && out(0).getDouble(1) == 0.0)
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
    assert(out(4).getDouble(0) == out(4).getDouble(1))
  }

  test("fx_grad == exploded transform+groupBy gradient, bucket for bucket") {
    registered()
    val docs = Tables.documents(spark, sf)
    val featV = graft.operators.Text.classifierFeatureVecs(docs, "doc_id", "text")
      .withColumn("y",
        when(pmod(col("doc_id"), lit(3L)) === 0L, lit(1.0)).otherwise(lit(0.0)))
    // plant a null-fv and a null-y row: both must contribute NOTHING
    val fl = featV.unionByName(spark.sql(
      """SELECT CAST(-1 AS BIGINT) AS doc_id,
        |  CAST(NULL AS array<struct<i:int,x:double>>) AS fv, 1.0 AS y
        |UNION ALL
        |SELECT CAST(-2 AS BIGINT),
        |  array(named_struct('i', 3, 'x', 0.5)), CAST(NULL AS double)""".stripMargin))
    val slow: Map[Int, Long] = fl
      .select(col("fv"), (refScore(col("fv"), w257) - col("y")).as("r"))
      .select(explode(transform(col("fv"), s =>
        struct(s.getField("i").as("i"),
          floor(s.getField("x") * col("r") * lit(1000000.0))
            .cast("long").as("v")))).as("g"))
      .groupBy(col("g.i").as("i")).agg(sum(col("g.v")).as("s"))
      // a bucket whose ONLY summands came from the planted null rows
      // sums to NULL in the exploded formulation — "contributes
      // nothing", i.e. absent from the reference map
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getInt(0) -> r.getLong(1))).toMap
    val fast = fl.select(call_function("fx_grad", col("fv"), col("y"),
      typedLit(w257.toSeq)).as("g")).collect()(0).getSeq[Long](0)
    assert(fast.length == 257)
    (0 until 257).foreach { i =>
      assert(fast(i) == slow.getOrElse(i, 0L),
        s"gradient bucket $i: fused ${fast(i)} vs exploded ${slow.getOrElse(i, 0L)}")
    }
  }

  test("fx_grad over an empty frame is the zero vector (empty fit guard)") {
    registered()
    val empty = spark.sql(
      """SELECT array(named_struct('i', 0, 'x', CAST(1.0 AS DOUBLE))) AS fv,
        |  CAST(1.0 AS DOUBLE) AS y
        |WHERE FALSE""".stripMargin)
    val g = empty.select(call_function("fx_grad", col("fv"), col("y"),
      typedLit(w257.toSeq)).as("g")).collect()(0).getSeq[Long](0)
    assert(g.forall(_ == 0L) && g.length == 257)
  }
}
