package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: probe 41 — r19 verdict item 1. kcenter
// seeding fixed the coupon-collector recall floor (probe 37) but
// costs k SEQUENTIAL corpus passes and is loud-capped at k = 512;
// seedMode = "parallel" (k-means||, Bahmani et al. 2012) promises the
// same coverage from a CONSTANT number of passes. This probe decides
// (a) parity: does parallel seeding match kcenter's residual-span
// contraction and serving recall at k = 512 on the probe-37 tight
// mixture, and (b) scale: does the fit WORK at k = 4096 on a x10-mass
// corpus (the k ~ sqrt(n) regime kcenter cannot reach), with the
// Spark job count during seeding recorded so "constant passes" is a
// measured claim, not a structural one.
// Readout per seeding flavor: fit wall, Spark jobs during the
// seeding-only fit (iters = 0), residual per-dim span contraction vs
// raw, recall@np1/np4 through the IVFxSQ global-bounds serving stack.
// args: [n=32768] [k=512] [modes=spread,kcenter,parallel] [twinOff=0.005] [iters=3]
object ProbeParallelSeed {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(32768L)
    val k = args.lift(1).map(_.toInt).getOrElse(512)
    val modes = args.lift(2).getOrElse("spread,kcenter,parallel")
      .split(",").map(_.trim).toSeq
    val twinOff = args.lift(3).map(_.toDouble).getOrElse(0.005)
    val iters = args.lift(4).map(_.toInt).getOrElse(3)
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

    // the probe-37 corpus generator: tight nClusters-mixture + one
    // planted resolvable twin per query
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

    val rawSpan = Graft.sqBounds(emb, "vec_id", "v", Dim)
      .agg(avg(col("hi") - col("lo")), max(col("hi") - col("lo"))).head
    val (rawMean, rawMax) = (rawSpan.getDouble(0), rawSpan.getDouble(1))
    println(f"== probe 41: n=$n k=$k dim=$Dim (tight mixture, jitter $jitter, twinOff $twinOff) ==")
    println(f"raw per-dim span: mean=$rawMean%8.5f max=$rawMax%8.5f")

    // Spark jobs submitted in a window — the empirical pass counter
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })

    def serveRow(tag: String, cents: DataFrame): Unit = {
      val resid = Graft.ivfResiduals(emb, "vec_id", "v",
        cents, "cent_id", "cv").select(col("id"), col("rvec"))
        .localCheckpoint(true)
      val b = Graft.sqBounds(resid, "id", "rvec", Dim)
        .withColumn("fit_residual", lit(true)).localCheckpoint(true)
      val sp = b.agg(avg(col("hi") - col("lo")), max(col("hi") - col("lo")))
        .head
      val (m, mx) = (sp.getDouble(0), sp.getDouble(1))
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
      println(f"$tag%-9s span mean=$m%8.5f (x${rawMean / m}%6.1f) " +
        f"max=$mx%8.5f (x${rawMax / mx}%6.1f)  " +
        recalls.map { case (np, r) => f"recall@np$np=$r%5.3f" }.mkString("  "))
    }

    modes.foreach { mode =>
      // seeding-only pass count (iters = 0 isolates the seed phase)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val seedsOnly = Graft.kmeansCentroids(emb, "vec_id", "v",
        k = nClusters, iters = 0, seedMode = mode)
      val nSeeds = seedsOnly.count()
      val seedJobs = jobs.get() - j0 - 1 // the count() itself
      val t1 = System.nanoTime()
      val cents = Graft.kmeansCentroids(emb, "vec_id", "v", k = nClusters,
        iters = iters, seedMode = mode).localCheckpoint(true)
      val t2 = System.nanoTime()
      println(f"$mode%-9s seeds=$nSeeds%5d seed_jobs=$seedJobs%4d " +
        f"seed_wall=${(t1 - t0) / 1e9}%7.1f s  full_fit_wall=${(t2 - t1) / 1e9}%7.1f s")
      serveRow(mode, cents)
    }
    spark.stop()
  }
}
