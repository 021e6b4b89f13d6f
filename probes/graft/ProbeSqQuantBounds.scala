package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: probe 36's follow-through — can QUANTILE-
// CLIPPED bounds (the FAISS ScalarQuantizer RangeStat_quantiles idea)
// recover the residual span contraction that min/max bounds lose to
// badly-routed clusters under a hash-seeded Lloyd fit? Tight-cluster
// mixture, Lloyd fits at 1x and 4x oversegmentation, bounds from
// min/max vs [q, 1-q] residual quantiles; readout = mean span + the
// planted-twin recall at nprobe=4.
// args: [n=131072] [cells list=256,1024] [clip=0.02]
object ProbeSqQuantBounds {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(131072L)
    val cellsList = args.lift(1).getOrElse("256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val clip = args.lift(2).map(_.toDouble).getOrElse(0.02)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    import graft.api.Graft

    val Dim = 64
    val nClusters = 256
    val nq = 64
    val jitter = 0.01
    val twinOff = 0.005

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

    def meanSpan(b: DataFrame) =
      b.agg(avg(col("hi") - col("lo"))).head.getDouble(0)

    for (nCells <- cellsList) {
      println(s"== n=$n tight (jitter $jitter), Lloyd nCells=$nCells, clip=$clip ==")
      val cents = Graft.kmeansCentroids(emb, "vec_id", "v", k = nCells,
        iters = 3).localCheckpoint(true)
      val resid = Graft.ivfResiduals(emb, "vec_id", "v",
        cents, "cent_id", "cv").select(col("id"), col("rvec"))
        .localCheckpoint(true)
      val minmax = Graft.sqBounds(resid, "id", "rvec", Dim)
        .withColumn("fit_residual", lit(true)).localCheckpoint(true)
      val quant = resid
        .select(posexplode(col("rvec")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(expr(s"percentile(x, ${clip}D)").as("lo"),
          expr(s"percentile(x, ${1 - clip}D)").as("hi"))
        .withColumn("fit_residual", lit(true)).localCheckpoint(true)
      println(f"  span min/max=${meanSpan(minmax)}%8.5f   clip[$clip,${1 - clip}]=${meanSpan(quant)}%8.5f")
      for ((tag, b) <- Seq("minmax" -> minmax, "quant " -> quant)) {
        val idx = Graft.ivfSqIndex(emb, "vec_id", "v", cents, "cent_id",
          "cv", b, Dim).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        idx.count()
        val s = Graft.ivfSqQuery(idx, cents, "cent_id", "cv", b,
          queries, "qid", "qv", k = 20, nprobe = 4, excludeSelf = true)
        val h = top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        println(f"  $tag bounds: recall@np4 = ${h.toDouble / nTruth}%5.3f")
        idx.unpersist(true)
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
