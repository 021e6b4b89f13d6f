package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: probe 37 — r18 verdict item 1. Probe 36
// showed the IVF x SQ residual flavor's x18 resolution advantage is
// gated by FIT quality: a hash-seeded Lloyd fit at k = #true-clusters
// leaves ~1/e of clusters seedless, their members' residuals span
// INTER-cluster distance, and the global min/max bounds collapse the
// contraction to x1.1. kcenterCoreset's greedy farthest-point picks
// cover every well-separated cluster by construction; this probe
// measures whether seedMode=kcenter banks the planted-centroid
// contraction. Same tight-mixture corpus as ProbeSqQuantBounds.
// Readout per seeding flavor (planted / hash / kcenter):
//   - mean + max residual per-dim span (the SQ bounds the fit hands
//     ivfSqBounds) and the contraction vs raw-vector spans
//   - recall@np1 and @np4 of the planted-twin top-1 (the probe-36
//     planted row sits at 0.984 @ np1)
// Done criteria (the verdict's): kcenter span contraction >= x10 (vs
// x1.1 hash) and np1 recall >= the planted row's.
// args: [n=131072] [k=256] [twinOff=0.005]
object ProbeKcenterSeed {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(131072L)
    val k = args.lift(1).map(_.toInt).getOrElse(256)
    val twinOffArg = args.lift(2).map(_.toDouble).getOrElse(0.005)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    import graft.api.Graft

    val Dim = 64
    val nClusters = k
    val nq = 64
    val jitter = 0.01
    val twinOff = twinOffArg

    def u(idCol: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        salt: Int) =
      (pmod(xxhash64(idCol, c, lit(salt)), lit(1000000L)).cast("double")
        / 1000000.0)
    val base = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), c =>
        u(pmod(col("id"), lit(nClusters.toLong)), c, 1) +
          lit(jitter) * (u(col("id"), c, 2) - lit(0.5))).as("v"))
    val twins = spark.range(nq).select(
      (col("id") + lit(2000000000L)).as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), c =>
        (u(pmod(col("id"), lit(nClusters.toLong)), c, 1) +
          lit(jitter) * (u(col("id"), c, 2) - lit(0.5)) +
          lit(twinOff) * (u(col("id"), c, 3) - lit(0.5))) * lit(1.05)).as("v"))
    val emb = base.unionByName(twins).repartition(32).localCheckpoint(true)
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

    // raw-vector spans: the contraction denominator
    val rawSpan = Graft.sqBounds(emb, "vec_id", "v", Dim)
      .agg(avg(col("hi") - col("lo")), max(col("hi") - col("lo")))
      .head
    val (rawMean, rawMax) = (rawSpan.getDouble(0), rawSpan.getDouble(1))
    println(f"== n=$n k=$k (tight mixture, jitter $jitter) ==")
    println(f"raw per-dim span: mean=$rawMean%8.5f max=$rawMax%8.5f")

    // planted centroids: the exact cluster bases (the mod rule)
    val planted = spark.range(nClusters).select(col("id").as("cent_id"),
      transform(sequence(lit(0), lit(Dim - 1)), c => u(col("id"), c, 1))
        .as("cv")).localCheckpoint(true)

    def fitRow(tag: String, cents: DataFrame): Unit = {
      val resid = Graft.ivfResiduals(emb, "vec_id", "v",
        cents, "cent_id", "cv").select(col("id"), col("rvec"))
        .localCheckpoint(true)
      val b = Graft.sqBounds(resid, "id", "rvec", Dim)
        .withColumn("fit_residual", lit(true)).localCheckpoint(true)
      val sp = b.agg(avg(col("hi") - col("lo")), max(col("hi") - col("lo")))
        .head
      val (m, mx) = (sp.getDouble(0), sp.getDouble(1))
      // PER-CELL span distribution: is the global-span poisoning a
      // FEW bad cells (per-cell bounds would bank the contraction) or
      // diffuse (nothing short of perfect routing helps)?
      val perCell = Graft.ivfResiduals(emb, "vec_id", "v",
          cents, "cent_id", "cv")
        .select(col("cell"), posexplode(col("rvec")).as(Seq("d", "x")))
        .groupBy("cell", "d").agg((max("x") - min("x")).as("span"))
        .groupBy("cell").agg(avg("span").as("cspan"))
      val q = perCell.agg(expr(
        "percentile(cspan, array(0.5D, 0.9D, 0.99D, 1.0D))")).head
        .getSeq[Double](0)
      println(f"$tag%-8s per-cell mean-span quantiles: " +
        f"p50=${q(0)}%8.5f p90=${q(1)}%8.5f p99=${q(2)}%8.5f max=${q(3)}%8.5f")
      val idx = Graft.ivfSqIndex(emb, "vec_id", "v", cents, "cent_id",
        "cv", b, Dim).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count()
      val recalls = Seq(1, 4).map { np =>
        val s = Graft.ivfSqQuery(idx, cents, "cent_id", "cv", b,
          queries, "qid", "qv", k = 20, nprobe = np, excludeSelf = true)
        val h = top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        np -> h.toDouble / nTruth
      }
      idx.unpersist(true)
      // the #211 flavor on the SAME fit: per-cell windows
      val bCell = Graft.ivfSqBoundsPerCell(emb, "vec_id", "v",
        cents, "cent_id", "cv", Dim).localCheckpoint(true)
      val idxCell = Graft.ivfSqIndex(emb, "vec_id", "v", cents, "cent_id",
        "cv", bCell, Dim).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idxCell.count()
      val recallsCell = Seq(1, 4).map { np =>
        val s = Graft.ivfSqQuery(idxCell, cents, "cent_id", "cv", bCell,
          queries, "qid", "qv", k = 20, nprobe = np, excludeSelf = true)
        val h = top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        np -> h.toDouble / nTruth
      }
      idxCell.unpersist(true)
      println(f"$tag%-8s span mean=$m%8.5f (x${rawMean / m}%6.1f) " +
        f"max=$mx%8.5f (x${rawMax / mx}%6.1f)  " +
        recalls.map { case (np, r) => f"recall@np$np=$r%5.3f" }.mkString("  ") +
        "  PER-CELL " +
        recallsCell.map { case (np, r) => f"recall@np$np=$r%5.3f" }.mkString("  "))
    }

    fitRow("planted", planted)
    val t0 = System.nanoTime()
    fitRow("hash", Graft.kmeansCentroids(emb, "vec_id", "v", k = nClusters,
      iters = 3).localCheckpoint(true))
    val t1 = System.nanoTime()
    fitRow("kcenter", Graft.kmeansCentroids(emb, "vec_id", "v", k = nClusters,
      iters = 3, seedMode = "kcenter").localCheckpoint(true))
    val t2 = System.nanoTime()
    println(f"fit wall: hash=${(t1 - t0) / 1e9}%6.1f s  " +
      f"kcenter=${(t2 - t1) / 1e9}%6.1f s")
    spark.stop()
  }
}
