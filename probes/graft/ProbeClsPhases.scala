package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r21 phase timing of the #195 classifier gate after the
// collected-feature-vector rework — where does the remaining time go:
// the one-time feature collect, the 4 GD rounds, or the scoring tail?
object ProbeClsPhases {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    import graft.operators.Text
    def t[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[phase] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    (1 to 3).foreach { rep =>
      println(s"=== rep $rep ===")
      spark.catalog.clearCache()
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val isRef = pmod(call_function("poly_hash", col("source")), lit(4L)) === 0
      val lab = docs.select(col("doc_id"),
        when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
      val featV = t("featV build+persist") {
        val f = Text.classifierFeatureVecs(docs, "doc_id", "text").persist()
        f.count(); f
      }
      val w = t("fit (4 rounds + count)") {
        Text.classifierFit(featV, lab, 256, 4, 0.5)
      }
      println(s"[phase] |w|=${w.length} w0=${w(0)}")
      spark.catalog.clearCache()
      t("full gate query") {
        SparkEntry.queries("q_quality_classifier")(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
