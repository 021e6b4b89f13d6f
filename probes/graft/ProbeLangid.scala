package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe: stage timings for the r17 langid rework
// env SPARK_GRAFT_SF_DIR
object ProbeLangid {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"  $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, sf)
      .withColumn("norm", operators.Dedup.contentNormOf(col("text")))
    println(s"docs: ${docs.count()}")
    // warm
    noop(docs.select(col("doc_id")))
    time("scan+norm only")(noop(docs.select(col("norm"))))
    time("char_ngram_hashes explode")(noop(docs.select(col("doc_id"),
      explode(expr("char_ngram_hashes(norm, 3)")).as("g"))))
    time("char_ngram_profile per-row")(noop(docs.select(col("doc_id"),
      expr("char_ngram_profile(norm, 3, 40)").as("p"))))
    val langCnt = docs.where(col("lang").isNotNull)
      .select(col("lang"), explode(expr("char_ngram_hashes(norm, 3)")).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
    val wLang = Window.partitionBy("lang").orderBy(col("c").desc, col("g"))
    val profMaps = langCnt
      .withColumn("r_lang", row_number().over(wLang))
      .where(col("r_lang") <= 40)
      .groupBy(col("lang").as("cand"))
      .agg(map_from_entries(
        collect_list(struct(col("g"), col("r_lang")))).as("pm"))
    time("fit (profMaps) alone")(noop(profMaps))
    val pmc = profMaps.persist(); pmc.count()
    val scored = docs
      .select(col("doc_id"), col("lang"),
        expr("char_ngram_profile(norm, 3, 40)").as("prof"))
      .join(broadcast(pmc), lit(true), "left")
      .select(col("doc_id"), col("lang"), col("cand"),
        when(col("cand").isNull || col("prof").isNull ||
          size(col("prof")) === 0, lit(null).cast("long"))
          .otherwise(aggregate(col("prof"), lit(0L), (acc, e) =>
            acc + coalesce(
              abs(e.getField("r").cast("long") -
                element_at(col("pm"), e.getField("g")).cast("long")),
              lit(40L)))).as("oop"))
    time("classify fan+oop (cached fit)")(noop(scored))
    val best = scored
      .groupBy("doc_id")
      .agg(first(col("lang")).as("lang"),
        min_by(struct(col("cand"), col("oop")),
          struct(col("oop"), col("cand"))).as("b"))
    time("argmin (cached fit)")(noop(best))
    time("full query rep1")(noop(
      operators.Text.qTextLangidNgram(spark, sf)))
    spark.catalog.clearCache()
    time("full query rep2")(noop(
      operators.Text.qTextLangidNgram(spark, sf)))
    spark.stop()
  }
}
