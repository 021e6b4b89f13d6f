package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: SCALING probe 33 — residual-IVFADC recall at
// mass on a NON-degenerate corpus (VERDICT r16 item 1: probe 30 priced
// COST at ×256 but its clone-ladder corpus put every query's nearest
// neighbor a quantization-invisible 1e-3 away, so its recall numbers
// measured only quantizer noise).
//
// Corpus: a deterministic hash-generated MIXTURE — `nClusters` centers
// in [0,1]^64, every vector = center + 0.25-spread noise — so IVF
// cells have real structure AND every query competes against hundreds
// of near-equidistant same-cluster siblings. Each of the nq query
// vectors additionally gets ONE planted twin at 0.4× the sibling
// noise scale: a genuine, resolvable-if-the-quantizer-works unique
// nearest neighbor (brute-force-verified), not a clone.
//
// Measured per (N, m, cells, nprobe, flavor ∈ {raw, residual}):
// true-top-1-in-top-20 recall over nq queries, mean scan fraction,
// serve wall. m ∈ {8, 16} prices the PQ-resolution dial the first
// run of this probe showed binding (recall ≈ k/cluster_size at m=8:
// the quantizer could not rank WITHIN clusters at all).
// args: [Ns=131072,524288] [ms=8,16] [cells=64,256,724] [nprobes=1,3,8]
object ProbeRecallScale {
  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("131072,524288")
      .split(",").map(_.trim.toLong).toSeq
    val mDials = (if (args.length > 1) args(1) else "8,16")
      .split(",").map(_.trim.toInt).toSeq
    val cellsDials = (if (args.length > 2) args(2) else "64,256,724")
      .split(",").map(_.trim.toInt).toSeq
    val nprobes = (if (args.length > 3) args(3) else "1,3,8")
      .split(",").map(_.trim.toInt).toSeq
    // optional 5th arg: exact-rerank shortlist depth (0 = off) — the
    // #199 tail served behind the residual flavor at each dial
    val shortlist = if (args.length > 4) args(4).toInt else 0
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

    def u(idCol: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        salt: Int) =
      (pmod(xxhash64(idCol, c, lit(salt)), lit(1000000L)).cast("double")
        / 1000000.0)
    // base mixture + planted twins: twin of query q gets vec_id
    // 2_000_000_000 + q and q's vector slightly perturbed AND scaled
    // 1.05× — the serving stack maximizes the INNER PRODUCT, so a
    // twin must out-dot the query's same-cluster siblings (an
    // unscaled perturbed twin is the euclidean NN but loses the dot
    // race to bigger-norm siblings ~80% of the time; the 5% norm bump
    // gives a ~0.9 dot margin vs the siblings' ~0.29 sd — a genuine,
    // resolvable-if-the-quantizer-works MIPS winner, not a clone)
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
      println(s"== corpus n=$n+$nq twins ($nClusters clusters) ==")
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
      val planted = top1.where(col("id") === col("q_id") + 2000000000L).count()
      println(s"   ground truth: $planted/$nTruth queries' true NN is the planted twin")

      for (m <- mDials; cells <- cellsDials) {
        // persist (not localCheckpoint) the per-combo frames: the
        // combo loop must RELEASE them deterministically at its end —
        // the first run of this probe OOMed at 524k×724 cells because
        // checkpointed index blocks from earlier combos were still
        // awaiting async GC-driven cleanup
        val cents = Graft.kmeansCentroids(emb, "vec_id", "v", cells, 2)
          .localCheckpoint(true)
        val cellMass = Graft.ivfIndex(emb, "vec_id", "v", cents, "cent_id", "cv")
          .groupBy("cell").agg(count(lit(1)).as("cm")).localCheckpoint(true)
        val rawBooks = Graft.pqCodebooks(emb, "vec_id", "v", Dim, m, K, 2)
          .localCheckpoint(true)
        val resBooks = Graft.ivfPqCodebooks(emb, "vec_id", "v",
          cents, "cent_id", "cv", Dim, m, K, 2).localCheckpoint(true)
        val rawIdx = Graft.ivfPqIndex(emb, "vec_id", "v", cents, "cent_id",
          "cv", rawBooks, residual = false)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val resIdx = Graft.ivfPqIndex(emb, "vec_id", "v", cents, "cent_id",
          "cv", resBooks, residual = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        for (nprobe <- nprobes) {
          val probes = queries.crossJoin(broadcast(cents))
            .withColumn("c", call_function("cosine_sim", col("cv"), col("qv")))
            .withColumn("r", row_number().over(Window.partitionBy("qid")
              .orderBy(col("c").desc, col("cent_id"))))
            .where(col("r") <= nprobe)
            .select(col("qid"), col("cent_id").as("cell"))
          val frac = probes.join(cellMass, "cell")
            .groupBy("qid").agg(sum("cm").as("pm"))
            .agg(avg(col("pm").cast("double") / n)).head().getDouble(0)
          def hits(idx: DataFrame, books: DataFrame, res: Boolean): (Long, Double) =
            time {
              val s = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", books,
                queries, "qid", "qv", k = 20, nprobe = nprobe,
                excludeSelf = true, residual = res)
              top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
            }
          val (hRaw, tRaw) = hits(rawIdx, rawBooks, res = false)
          val (hRes, tRes) = hits(resIdx, resBooks, res = true)
          val rrTxt = if (shortlist > 0) {
            val (hRr, tRr) = time {
              val s = Graft.ivfPqQueryRerank(resIdx, cents, "cent_id",
                "cv", resBooks, queries, "qid", "qv", emb, "vec_id", "v",
                k = 20, nprobe = nprobe, shortlist = shortlist,
                excludeSelf = true, residual = true)
              top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
            }
            f"  rerank@$shortlist=${hRr.toDouble / nTruth}%5.3f (${tRr}%5.1f s)"
          } else ""
          println(f"n=$n%7d m=$m%3d cells=$cells%4d nprobe=$nprobe%2d " +
            f"scan=${frac * 100}%5.1f%% " +
            f"raw=${hRaw.toDouble / nTruth}%5.3f (${tRaw}%5.1f s)  " +
            f"residual=${hRes.toDouble / nTruth}%5.3f (${tRes}%5.1f s)" + rrTxt)
        }
        rawIdx.unpersist(true); resIdx.unpersist(true)
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
