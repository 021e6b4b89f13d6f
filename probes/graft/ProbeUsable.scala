package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ProbeUsable {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)
    val dir = "/root/testdata/sf0.1"
    def time(tag: String)(b: => Unit): Unit = {
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime(); b
        println(f"$tag: ${(System.nanoTime()-t0)/1e9}%.3f s")
      }
    }
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    println("n=" + e0.count())
    time("scan raw")(e0.write.format("noop").mode("overwrite").save())
    time("scan usable")(e0.where(call_function("usable_vec", col("v"), lit(64)))
      .write.format("noop").mode("overwrite").save())
    def topk(e: org.apache.spark.sql.DataFrame): Unit = {
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", call_function("cosine_sim", col("qv"), col("v")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5).select("q_id","rank","vec_id","cos")
        .orderBy("q_id","rank")
        .write.format("noop").mode("overwrite").save()
    }
    time("topk raw")(topk(e0))
    time("topk usable")(topk(e0.where(call_function("usable_vec", col("v"), lit(64)))))
    spark.stop()
  }
}
