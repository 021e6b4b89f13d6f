package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r22 — VERDICT item 8: put a measured wall-time point
// behind the r21 IVF-family broadcasts (plan-verified there, but
// gate-SF-invisible). The shape under test is the serve-side join
//   assigned(corpus, by cell)  ⋈  probes(NQueries×nprobe ≈ 20 rows)
// at ~1M × 64-dim embedding mass (sf1-equivalent vector count):
//   A) r20 shape — no hint: the planner sort-merge-joins, i.e. the
//      CORPUS is exchanged+sorted by cell before probing;
//   B) r21 shape — broadcast(probes): the corpus is never exchanged.
// Same result rows; REPS=3 each, min reported.
object ProbeIvfMass {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.expressions.Window
    val nVec = sys.env.getOrElse("IVFMASS_NVEC", "1000000").toLong
    val dim = 64
    val nCells = 64
    val vecExpr = transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(col("vec_id") * lit(31) + i), lit(1000)).cast("double") / 500.0 - lit(1.0))
    val assigned = spark.range(nVec).select(col("id").as("vec_id"),
        pmod(xxhash64(col("id")), lit(nCells)).as("cell"),
        vecExpr.as("v"))
      .persist()
    println("assigned rows = " + assigned.count())
    val probes = spark.range(20).select(col("id").as("q_id"),
        pmod(xxhash64(col("id") + lit(7)), lit(nCells)).as("cell"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id") * lit(17) + i), lit(1000)).cast("double") / 500.0 - lit(1.0)).as("qv"))
      .localCheckpoint(true)
    graft.api.Graft.install(spark)
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("cosine_sim", a, b)
    val wTop = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    def tail(p: org.apache.spark.sql.DataFrame) =
      assigned.join(p, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cos(col("qv"), col("v")))
        .withColumn("rank", row_number().over(wTop))
        .where(col("rank") <= 10)
        .select("q_id", "rank", "vec_id", "cos")
    def time(tag: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[ivfmass] $tag: min ${ts.min}%.3f s  reps ${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    // sanity: both shapes return the same rows
    val a = tail(probes.hint("merge")).collect().toSet
    val b = tail(broadcast(probes)).collect().toSet
    println("rows equal = " + (a == b) + " (" + a.size + " rows)")
    time("A sort-merge (corpus exchanged by cell)", tail(probes.hint("merge")))
    time("B broadcast(probes) (corpus never exchanged)", tail(broadcast(probes)))
    spark.stop()
  }
}
