package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
// disposable: probe 32 — the #195 quality-classifier family priced at
// mass. Scoring (the corpus-scale path) on the x1/x16/x64 ladder;
// the GD fit vs sample mass and vs the dims dial (the two production
// knobs: fit on a labeled SAMPLE, raise buckets past the gate's 256).
object ProbeClassifier {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")).localCheckpoint(true)
    def docsX(scale: Int): DataFrame =
      (0 until scale).map { c =>
        docs.select((col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          col("source"), col("text"))
      }.reduce(_ unionByName _).localCheckpoint(true)
    def time(tag: String)(body: => Unit): Unit =
      (1 to 3).foreach { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); body
        println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    import graft.api.Graft
    graft.api.Graft.install(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val isRef = pmod(call_function("poly_hash", col("source")), lit(4L)) === 0
    // one frozen model, fit at gate dials on the x1 sample
    val model = Graft.qualityClassifierModel(docs, "doc_id", "text", isRef)
      .localCheckpoint(true)
    // (1) the corpus-scale leg: frozen-model scoring, x1/x16/x64
    time("score x1")(noop(Graft.qualityClassifierScore(docs, model,
      "doc_id", "text")))
    val d16 = docsX(16); println("x16 " + d16.count())
    time("score x16")(noop(Graft.qualityClassifierScore(d16, model,
      "doc_id", "text")))
    val d64 = docsX(64); println("x64 " + d64.count())
    time("score x64")(noop(Graft.qualityClassifierScore(d64, model,
      "doc_id", "text")))
    // (2) the fit: sample-mass ladder at gate dims, then the dims dial
    time("fit x1 dims=256")(noop(
      Graft.qualityClassifierModel(docs, "doc_id", "text", isRef)))
    time("fit x16 dims=256")(noop(
      Graft.qualityClassifierModel(d16, "doc_id", "text", isRef)))
    time("fit x1 dims=4096")(noop(
      Graft.qualityClassifierModel(docs, "doc_id", "text", isRef,
        dims = 4096)))
    time("fit x16 dims=4096")(noop(
      Graft.qualityClassifierModel(d16, "doc_id", "text", isRef,
        dims = 4096)))
    spark.stop()
  }
}
