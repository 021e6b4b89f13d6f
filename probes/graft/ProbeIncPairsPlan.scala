package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r22 — expose the pre-checkpoint plan + phase times of the
// incremental pair generator at sf0.1 (the #69/#61 1.4 s phase).
object ProbeIncPairsPlan {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    def t[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[incpairs] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val ex0 = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"),
        (pmod(col("doc_id"), lit(3L)) === 1L).as("is_delta"),
        explode(expr("word_shingle_hashes(text, 3)")).as("shingle"))
      .persist()
    t("ex0 fill")(ex0.count())
    val dfCap = graft.operators.Dedup.DfCap
    val tau = graft.operators.Dedup.JaccardTau
    val ex0p = ex0
    val rare = ex0p.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("shingle")
    val exp = ex0p.join(rare, "shingle").persist()
    t("exp fill (rare join)")(exp.count())
    val cnt = exp.groupBy("id").agg(count(lit(1)).as("n"))
    val newSide = exp.where(col("is_delta"))
      .select(col("id").as("id_new"), col("shingle"))
    val earlier = exp.select(col("id").as("id_old"),
      col("is_delta").as("old_is_delta"), col("shingle"))
    val pairs = newSide.join(earlier, Seq("shingle"))
      .where(!col("old_is_delta") || col("id_old") < col("id_new"))
      .groupBy("id_new", "id_old").agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("id").as("id_new"), col("n").as("nn")), "id_new")
      .join(cnt.select(col("id").as("id_old"), col("n").as("no")), "id_old")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nn") + col("no") - col("inter")))
      .where(col("jaccard") >= tau)
      .select("id_new", "id_old", "inter", "jaccard")
    t("candidate join + tail")(
      pairs.write.format("noop").mode("overwrite").save())
    t("candidate join + tail (rep2)")(
      pairs.write.format("noop").mode("overwrite").save())
    pairs.explain("formatted")
    spark.stop()
  }
}
