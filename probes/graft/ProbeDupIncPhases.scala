package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r21 — phase timing of q_dup_clusters_incremental:
// ex0 shingle pass, base-label memo fit (rep 1 only), incremental
// pairs, mergeComponents fixpoint, final sort.
object ProbeDupIncPhases {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[phase] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    import graft.operators.Dedup
    (1 to 3).foreach { rep =>
      println(s"=== rep $rep ===")
      spark.catalog.clearCache()
      t("full q_dup_clusters_incremental") {
        SparkEntry.queries("q_dup_clusters_incremental")(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // component phases (base store now memoized)
    graft.api.Graft.install(spark)
    (1 to 2).foreach { rep =>
      println(s"=== phases rep $rep ===")
      spark.catalog.clearCache()
      val ex0 = t("ex0 build+persist") {
        val e = Tables.documents(spark, dir)
          .select(col("doc_id").as("id"),
            (pmod(col("doc_id"), lit(3L)) === 1L).as("is_delta"),
            explode(expr("word_shingles(text, 3)")).as("shingle"))
          .select(col("id"), col("is_delta"), xxhash64(col("shingle")).as("shingle"))
          .persist()
        e.count(); e
      }
      val incPairs = t("incrementalPairsFromExploded") {
        Dedup.incrementalPairsFromExploded(ex0, Dedup.JaccardTau, Dedup.DfCap)
          .select("id_new", "id_old")
      }
      println("pairs=" + incPairs.count())
      // the full-query runs above populated the (dir, "base") memo in
      // this JVM — a fit here would mean the memo keying broke
      val baseLabels = spark.read.parquet(
        Dedup.memoizedLabelStore(spark, dir, "base")(_ =>
          throw new IllegalStateException("base memo should exist")))
      val merged = t("mergeComponents") {
        val m = graft.api.Graft.mergeComponents(baseLabels, incPairs,
          "id_new", "id_old")
        m.write.format("noop").mode("overwrite").save(); m
      }
      t("orderBy tail") {
        merged.orderBy("id").write.format("noop").mode("overwrite").save()
      }
      ex0.unpersist()
    }
    spark.stop()
  }
}
