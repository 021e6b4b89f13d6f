package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Graft

// disposable probe main (not part of the library): raw-vector vs
// RESIDUAL PQ encoding inside the IVFADC composition (VERDICT r15
// item 1 — Jégou et al. encode vec − centroid(cell); FAISS IndexIVFPQ
// by_residual). Measures true-NN-in-top-k candidate recall at equal
// dials (same centroids, same m/k/iters, same nprobe) over the gate
// embeddings corpus, for several query-set sizes.
// args: [sfDir=/root/testdata/sf0.01] [nCells=8] [nprobe=3] [k=20]
object ProbeResidualPq {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val nCells = if (args.length > 1) args(1).toInt else 8
    val nprobe = if (args.length > 2) args(2).toInt else 3
    val k = if (args.length > 3) args(3).toInt else 20
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    val Dim = 64; val M = 8; val K = 64
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist()
    val cents = Graft.kmeansCentroids(emb, "vec_id", "v", nCells, 2).persist()
    val rawBooks = Graft.pqCodebooks(emb, "vec_id", "v", Dim, M, K, 3)
    val resBooks = Graft.ivfPqCodebooks(emb, "vec_id", "v",
      cents, "cent_id", "cv", Dim, M, K, 3)
    val rawIdx = Graft.ivfPqIndex(emb, "vec_id", "v", cents, "cent_id", "cv",
      rawBooks, residual = false).persist()
    val resIdx = Graft.ivfPqIndex(emb, "vec_id", "v", cents, "cent_id", "cv",
      resBooks, residual = true).persist()

    def top1(q: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
      emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
        .withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("q_id"), col("vec_id").as("id"))
    }
    for (nq <- Seq(10, 50, 100)) {
      val q = emb.where(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val t1 = top1(q.select(col("qid").as("q_id"), col("qv"))).persist()
      val n = t1.count()
      def hits(idx: DataFrame, books: DataFrame, res: Boolean): Long = {
        val s = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", books,
          q, "qid", "qv", k = k, nprobe = nprobe,
          excludeSelf = true, residual = res)
        t1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
      }
      val hRaw = hits(rawIdx, rawBooks, res = false)
      val hRes = hits(resIdx, resBooks, res = true)
      println(f"nq=$nq%4d nprobe=$nprobe k=$k  raw=${hRaw.toDouble / n}%.3f  residual=${hRes.toDouble / n}%.3f  (n=$n)")
    }
    // flat (non-routed) comparison too: encode-only quality at full probe
    for (nq <- Seq(50)) {
      val q = emb.where(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val t1 = top1(q.select(col("qid").as("q_id"), col("qv"))).persist()
      val n = t1.count()
      def hitsFull(idx: DataFrame, books: DataFrame, res: Boolean): Long = {
        val s = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", books,
          q, "qid", "qv", k = k, nprobe = nCells,
          excludeSelf = true, residual = res)
        t1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
      }
      println(f"FULL-PROBE nq=$nq raw=${hitsFull(rawIdx, rawBooks, false).toDouble / n}%.3f residual=${hitsFull(resIdx, resBooks, true).toDouble / n}%.3f")
    }
    spark.stop()
  }
}
