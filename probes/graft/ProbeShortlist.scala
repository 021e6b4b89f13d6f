package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: the SHORTLIST-DEPTH dial of the #199 exact
// rerank (SCALING probe 33's follow-through). Probe 33 showed rerank
// recall = P(true NN reaches the ADC shortlist); this sweeps the
// depth at the probe's best ×256 dial (m=16, cells=724, nprobe=1,
// residual) to price the recall-vs-raw-reads curve and test the
// "shortlist scales with cluster occupancy (n/centers)" rule the
// probe conjectured — the same sweep at ×64 says whether the SAME
// depth buys the same recall when clusters are 4× thinner.
// args: [Ns=131072,524288] [shortlists=20,50,100,200,400]
object ProbeShortlist {
  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("131072,524288")
      .split(",").map(_.trim.toLong).toSeq
    val shortlists = (if (args.length > 1) args(1) else "20,50,100,200,400")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    import graft.api.Graft

    val Dim = 64; val K = 64
    val nClusters = 256
    val nq = 64
    val m = 16

    def u(idCol: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        salt: Int) =
      (pmod(xxhash64(idCol, c, lit(salt)), lit(1000000L)).cast("double")
        / 1000000.0)
    def mixture(n: Long): DataFrame = {
      val base = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), c =>
          u(pmod(col("id"), lit(nClusters.toLong)), c, 1) +
            lit(0.25) * (u(col("id"), c, 2) - lit(0.5))).as("v"))
      val twins = spark.range(nq).select(
        (col("id") + lit(2000000000L)).as("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), c =>
          (u(pmod(col("id"), lit(nClusters.toLong)), c, 1) +
            lit(0.25) * (u(col("id"), c, 2) - lit(0.5)) +
            lit(0.04) * (u(col("id"), c, 3) - lit(0.5))) * lit(1.05)).as("v"))
      base.unionByName(twins).repartition(32).localCheckpoint(true)
    }
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    for (n <- ns) {
      val emb = mixture(n)
      val cells = math.max(16, math.sqrt(n.toDouble).round.toInt)
      println(s"== n=$n+$nq twins, m=$m cells=$cells nprobe=1 " +
        s"(cluster occupancy ~${n / nClusters}) ==")
      val queries = emb.where(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint(true)
      val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
      val top1 = emb.crossJoin(broadcast(
          queries.select(col("qid").as("q_id"), col("qv"))))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
        .withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("q_id"), col("vec_id").as("id")).localCheckpoint(true)
      val nTruth = top1.count()
      val cents = Graft.kmeansCentroids(emb, "vec_id", "v", cells, 2)
        .localCheckpoint(true)
      val books = Graft.ivfPqCodebooks(emb, "vec_id", "v",
        cents, "cent_id", "cv", Dim, m, K, 2).localCheckpoint(true)
      val idx = Graft.ivfPqIndex(emb, "vec_id", "v", cents, "cent_id",
        "cv", books, residual = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count()
      for (r <- shortlists) {
        val (h, t) = time {
          val s = Graft.ivfPqQueryRerank(idx, cents, "cent_id", "cv",
            books, queries, "qid", "qv", emb, "vec_id", "v",
            k = 20, nprobe = 1, shortlist = r, excludeSelf = true)
          top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        }
        println(f"n=$n%7d shortlist=$r%4d recall=${h.toDouble / nTruth}%5.3f (${t}%5.1f s)")
      }
      idx.unpersist(true)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
