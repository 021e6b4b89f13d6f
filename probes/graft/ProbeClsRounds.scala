package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
// disposable: r21 — price each GD round of the #195 fit in the
// collected-vector shape, and A/B the per-round join against a
// pre-joined (featV ⋈ lab) cache.
object ProbeClsRounds {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    import graft.operators.Text
    def t[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[round] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    def scoreVec(fvCol: Column, w: Array[Double]): Column = {
      val wl = typedLit(w.toSeq)
      aggregate(fvCol, lit(0L), (acc, s) =>
        acc + floor(s.getField("x") * element_at(wl, s.getField("i") + lit(1))
          * lit(1000000.0)).cast("long"))
        .cast("double") / lit(1000000.0)
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call_function("poly_hash", col("source")), lit(4L)) === 0
    val lab = docs.select(col("doc_id"),
      when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    (1 to 2).foreach { rep =>
      println(s"=== rep $rep ===")
      spark.catalog.clearCache()
      val featV = Text.classifierFeatureVecs(docs, "doc_id", "text").persist()
      t("featV materialize")(featV.count())
      val l = lab.persist()
      val n = t("lab count")(l.count())
      // variant A: per-round join (current implementation shape)
      var w = Array.fill(257)(0.0)
      (1 to 4).foreach { it =>
        t(s"A round $it (join per round)") {
          val grads = featV.join(l, Seq("doc_id"))
            .select(col("fv"), (scoreVec(col("fv"), w) - col("y")).as("r"))
            .select(explode(transform(col("fv"), s =>
              struct(s.getField("i").as("i"),
                floor(s.getField("x") * col("r") * lit(1000000.0))
                  .cast("long").as("v")))).as("g"))
            .groupBy(col("g.i").as("i")).agg(sum(col("g.v")).as("s"))
            .as[(Int, Long)].collect().toMap
          w = w.zipWithIndex.map { case (v, i) =>
            v - 0.5 * (grads.getOrElse(i, 0L).toDouble / (n * 1000000L).toDouble) }
        }
      }
      println("A w0=" + w(0))
      // variant B: pre-joined cache
      val fl = t("B featLab build+persist") {
        val f = featV.join(l, Seq("doc_id")).persist(); f.count(); f
      }
      var w2 = Array.fill(257)(0.0)
      (1 to 4).foreach { it =>
        t(s"B round $it (pre-joined)") {
          val grads = fl
            .select(col("fv"), (scoreVec(col("fv"), w2) - col("y")).as("r"))
            .select(explode(transform(col("fv"), s =>
              struct(s.getField("i").as("i"),
                floor(s.getField("x") * col("r") * lit(1000000.0))
                  .cast("long").as("v")))).as("g"))
            .groupBy(col("g.i").as("i")).agg(sum(col("g.v")).as("s"))
            .as[(Int, Long)].collect().toMap
          w2 = w2.zipWithIndex.map { case (v, i) =>
            v - 0.5 * (grads.getOrElse(i, 0L).toDouble / (n * 1000000L).toDouble) }
        }
      }
      println("B w0=" + w2(0) + " equal=" + w.sameElements(w2))
      fl.unpersist(); l.unpersist(); featV.unpersist()
    }
    spark.stop()
  }
}
