package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main (not part of the library): probe 30 — the ANN
// serving path and the winnow df-cap at ×256 mass (VERDICT r15 item
// 6; probe 27 priced ×64). Questions:
//   1. winnow at ×256: verbatim copies put every shared fingerprint at
//      df = 256 — ABOVE the df≤64 cap, the regime where the cap must
//      drop boilerplate from candidate generation entirely (the
//      opposite edge from ×64's everything-at-the-boundary). And the
//      mass-only ladder (unique-suffix copies, df≈copies of nothing):
//      does the sketch+join stay linear through two more decades?
//   2. IVFADC at 512 k vectors: the routed-vs-flat gap (probe 27 saw
//      0.41× at ×64/32 cells) as the corpus grows another ×4 — and
//      the nprobe dial's measured cost/recall curve (1/3/8 probes).
//   3. the cells dial at fixed mass: 16 / 64 / 256 cells at nprobe 3 —
//      the "k rises with the corpus" claim, measured: per-query probe
//      cost is nprobe × E[cell size], so more cells must buy a
//      proportionally smaller scan (until centroid-table costs bite).
// args: [sfDir=/root/testdata/sf0.1] [reps=2]
object ProbeScale256 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.api.Graft.install(spark)

    def time(tag: String)(body: => Unit): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to reps) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        body
        val s = (System.nanoTime() - t0) / 1e9
        best = math.min(best, s)
        println(f"$tag: $s%.2f s")
      }
      best
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    def docsX(scale: Int, verbatim: Boolean): DataFrame =
      (0 until scale).map { c =>
        docs.select((col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          if (verbatim || c == 0) col("text")
          else concat(col("text"), lit(s" copysuffix$c")).as("text"))
      }.reduce(_ unionByName _).localCheckpoint(true)

    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    def embX(scale: Int): DataFrame =
      (0 until scale).map { c =>
        emb.select((col("vec_id") + lit(c.toLong * 1000000L)).as("vec_id"),
          transform(col("v"), (x, i) =>
            when(i === 0, x + lit(c * 1e-3)).otherwise(x)).as("v"))
      }.reduce(_ unionByName _).localCheckpoint(true)

    import graft.api.Graft

    // ---- 1. winnow at x256 ------------------------------------------
    val d256v = docsX(256, verbatim = true)
    println(s"docs x256 verbatim: ${d256v.count()} rows")
    time("winnow x256 verbatim df<=64")(noop(
      Graft.winnowPairs(d256v, "doc_id", "text")))
    val d256s = docsX(256, verbatim = false)
    time("winnow x256 suffix df<=64")(noop(
      Graft.winnowPairs(d256s, "doc_id", "text")))

    // ---- 2/3. IVFADC at x256 ----------------------------------------
    val e256 = embX(256)
    println(s"emb x256: ${e256.count()} vectors")
    val books = Graft.pqCodebooks(e256, "vec_id", "v", 64, 8, 64, 2)
      .localCheckpoint(true)
    val queries = emb.where(col("vec_id") < 64)
      .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint(true)
    // exact top-1 ground truth for the recall dial (one brute pass)
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val top1 = e256.crossJoin(broadcast(
        queries.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id")).localCheckpoint(true)
    val nq = top1.count()

    val codes = Graft.pqEncode(e256, "vec_id", "v", books).localCheckpoint(true)
    time("pq flat top-20 x256")(noop(
      Graft.pqQuery(codes, books, queries, "qid", "qv", 20)))

    for (cells <- Seq(16, 64, 256)) {
      val cents = Graft.kmeansCentroids(e256, "vec_id", "v", cells, 2)
        .localCheckpoint(true)
      val rbooks = Graft.ivfPqCodebooks(e256, "vec_id", "v",
        cents, "cent_id", "cv", 64, 8, 64, 2).localCheckpoint(true)
      val idx = Graft.ivfPqIndex(e256, "vec_id", "v",
        cents, "cent_id", "cv", rbooks).localCheckpoint(true)
      for (nprobe <- Seq(1, 3, 8)) {
        val served = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", rbooks,
          queries, "qid", "qv", 20, nprobe)
        time(f"ivfpq residual $nprobe%d/$cells%d x256")(noop(served))
        val hits = top1.join(served.select("q_id", "id"), Seq("q_id", "id"))
          .count()
        println(f"  recall(top1 in top-20) $nprobe/$cells: ${hits.toDouble / nq}%.3f")
      }
    }
    spark.stop()
  }
}
