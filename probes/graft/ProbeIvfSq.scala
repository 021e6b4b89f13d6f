package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: SCALING probe 36 — the IVF x SQ8 composed
// rung (#205) measured AT MASS on the same planted-twin mixture
// corpus as probes 33/35, so the whole quantizer ladder reads off one
// table. Questions this probe answers with numbers:
//   1. does IVF routing cost SQ8 recall (flat SQ = the probe-33
//      ceiling, 1.000) and at what nprobe does it recover?
//   2. how much finer is the residual quantizer than the raw one at
//      the same byte budget (span contraction + measured recall gap)?
//   3. what does the routed scan fraction buy in wall time vs the
//      flat SQ scan at the same k?
// args: [Ns=131072] [cells=256] [nprobes=1,4,16] [jitter=0.25] [twinOff=0.04] [ideal=false]
//   ideal=true swaps the Lloyd fit for the planted cluster means —
//   isolating quantizer resolution from routing/fit quality (finding:
//   with hash-seeded Lloyd at k = planted-k, ~1/e of clusters get no
//   seed, their members' residuals span INTER-cluster distance, and
//   the GLOBAL residual min/max barely contracts — the residual
//   flavor's advantage is gated by fit quality, not by the encoder).
//   jitter = within-cluster spread (0.25 = the probe-33 loose mixture;
//   0.01 = tight clusters, where raw bounds span the cluster-mean
//   spread but residual bounds span only the jitter — the regime the
//   residual flavor exists for). twinOff = planted-NN margin scale.
object ProbeIvfSq {
  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("131072")
      .split(",").map(_.trim.toLong).toSeq
    val nCells = args.lift(1).map(_.toInt).getOrElse(256)
    val nprobes = args.lift(2).getOrElse("1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val jitter = args.lift(3).map(_.toDouble).getOrElse(0.25)
    val twinOff = args.lift(4).map(_.toDouble).getOrElse(0.04)
    val ideal = args.lift(5).exists(_.toBoolean)
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

    def u(idCol: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        salt: Int) =
      (pmod(xxhash64(idCol, c, lit(salt)), lit(1000000L)).cast("double")
        / 1000000.0)
    // identical corpus construction to ProbeRecallScale/ProbeSqRecall
    def mixture(n: Long): DataFrame = {
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
      base.unionByName(twins).repartition(32).localCheckpoint(true)
    }

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    for (n <- ns) {
      val emb = mixture(n)
      println(s"== corpus n=$n+$nq twins ($nClusters planted clusters, " +
        s"$nCells fitted cells, jitter=$jitter, twinOff=$twinOff) ==")
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

      val (cents, tFit) = time {
        if (ideal)
          // the planted cluster means themselves (jitter is zero-mean)
          spark.range(nClusters).select(col("id").as("cent_id"),
            transform(sequence(lit(0), lit(Dim - 1)), c =>
              u(col("id"), c, 1)).as("cv")).localCheckpoint(true)
        else
          Graft.kmeansCentroids(emb, "vec_id", "v", k = nCells, iters = 3)
            .localCheckpoint(true)
      }
      println(f"  centroids (${if (ideal) "planted" else "lloyd-fit"}): ${tFit}%5.1f s")

      // the residual-resolution claim, measured: mean per-dimension
      // span of the residual fit vs the raw fit
      val rawB = Graft.sqBounds(emb, "vec_id", "v", Dim).localCheckpoint(true)
      val resB = Graft.ivfSqBounds(emb, "vec_id", "v",
        cents, "cent_id", "cv", Dim).localCheckpoint(true)
      def meanSpan(b: DataFrame) =
        b.agg(avg(col("hi") - col("lo"))).head.getDouble(0)
      val (sRaw, sRes) = (meanSpan(rawB), meanSpan(resB))
      println(f"  mean span raw=${sRaw}%6.4f residual=${sRes}%6.4f " +
        f"(contraction x${sRaw / sRes}%4.1f => quantizer step x${sRaw / sRes}%4.1f finer at equal bits)")

      val rIdx = Graft.ivfSqIndex(emb, "vec_id", "v", cents, "cent_id",
        "cv", resB, Dim).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rIdx.count()
      val rawIdx = Graft.ivfSqIndex(emb, "vec_id", "v", cents, "cent_id",
        "cv", rawB, Dim, residual = false).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rawIdx.count()
      val flatCodes = Graft.sqEncode(emb, "vec_id", "v", rawB, Dim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      flatCodes.count()

      val (hFlat, tFlat) = time {
        val s = Graft.sqQuery(flatCodes, rawB, queries, "qid", "qv",
          k = 20, excludeSelf = true)
        top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
      }
      println(f"  flat SQ8 (full scan):            recall=${hFlat.toDouble / nTruth}%5.3f (${tFlat}%5.1f s)")
      for (np <- nprobes) {
        val (hRes, tRes) = time {
          val s = Graft.ivfSqQuery(rIdx, cents, "cent_id", "cv", resB,
            queries, "qid", "qv", k = 20, nprobe = np, excludeSelf = true)
          top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        }
        val (hRaw, tRaw) = time {
          val s = Graft.ivfSqQuery(rawIdx, cents, "cent_id", "cv", rawB,
            queries, "qid", "qv", k = 20, nprobe = np, excludeSelf = true,
            residual = false)
          top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
        }
        println(f"  ivf_sq nprobe=$np%2d (scan ~${np * 100.0 / nCells}%5.1f%%): " +
          f"residual=${hRes.toDouble / nTruth}%5.3f (${tRes}%5.1f s)  " +
          f"raw=${hRaw.toDouble / nTruth}%5.3f (${tRaw}%5.1f s)")
      }
      rIdx.unpersist(true); rawIdx.unpersist(true); flatCodes.unpersist(true)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
