package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: r18 verdict item 5 — does a DETERMINISTIC
// OPQ-style rotation (Ge et al. 2013, "Optimized Product
// Quantization", parametric flavor: PCA basis + eigenvalue-BALANCED
// subspace allocation) lift the probe-33 IVFPQ pathology (recall
// falls/flat as nprobe rises; m=8 cannot rank within clusters) at
// EQUAL bytes? Orthogonal rotation preserves dot products, so the
// MIPS ground truth is unchanged — only the quantizer's subspace
// decomposition moves. Same mixture corpus as ProbeRecallScale.
// Rotation is fully deterministic: exact covariance over a
// hash-sampled slice, commons-math3 eigendecomposition, greedy
// balanced allocation (sort eigenvalues desc, each eigendirection to
// the subspace with the smallest log-eigenvalue sum).
// Ship-the-rung rule: only on a measured win; a banked "rotation
// does not bind either" is the probe-36 negative-result discipline.
//
// corpusMode (arg 5, r19 verdict item 7): "axis" is the original
// mixture — per-dim independent noise, so the data is AXIS-ALIGNED
// and a PQ subspace split along raw dims is already near-optimal
// (probe 40's m=16 inversion may be an artifact of that). "rotgauss"
// generalizes: per-dim noise scale ramps 0.25x..1.75x (eigenvalue
// spread for the balanced allocation to exploit) and the WHOLE
// corpus then passes through one fixed deterministic global rotation
// (QR of a hash matrix) — non-axis-aligned, correlated noise, the
// regime OPQ was designed for. MIPS truth is computed after the
// rotation, so recall numbers stay apples-to-apples.
// args: [Ns=131072] [ms=8,16] [cells=724] [nprobes=1,3,8] [corpusMode=axis]
object ProbeOpqRotation {
  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("131072")
      .split(",").map(_.trim.toLong).toSeq
    val mDials = (if (args.length > 1) args(1) else "8,16")
      .split(",").map(_.trim.toInt).toSeq
    val cellsDials = (if (args.length > 2) args(2) else "724")
      .split(",").map(_.trim.toInt).toSeq
    val nprobes = (if (args.length > 3) args(3) else "1,3,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.api.Graft.install(spark)
    import graft.api.Graft
    import spark.implicits._

    val Dim = 64; val K = 64
    val nClusters = 256
    val nq = 64

    val corpusMode = args.lift(4).getOrElse("axis")
    require(corpusMode == "axis" || corpusMode == "rotgauss",
      s"corpusMode must be axis|rotgauss, got $corpusMode")

    def u(idCol: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        salt: Int) =
      (pmod(xxhash64(idCol, c, lit(salt)), lit(1000000L)).cast("double")
        / 1000000.0)
    // one fixed deterministic global rotation: QR of a hash matrix
    lazy val globalQ: Array[Array[Double]] = {
      val a = Array.tabulate(Dim, Dim) { (i, j) =>
        var h = i.toLong * 6364136223846793005L +
          j.toLong * 1442695040888963407L + 987654321L
        h ^= (h >>> 33); h *= -49064778989728563L; h ^= (h >>> 33)
        ((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5
      }
      new org.apache.commons.math3.linear.QRDecomposition(
        new org.apache.commons.math3.linear.Array2DRowRealMatrix(a))
        .getQ.getData
    }
    def mixture(n: Long): DataFrame = {
      // per-dim noise scale: flat 0.25 in axis mode; a 0.25x..1.75x
      // ramp in rotgauss mode (anisotropy the rotation then smears
      // across all raw dims). The vectors build as EXPLICIT per-dim
      // expression arrays, not transform() lambdas: a rotgauss-shaped
      // lambda inside a Union child trips Catalyst's constraint
      // rewrite (key not found: id#N — the probe-41 bug family);
      // values are identical (lit(d) hashes like the sequence
      // element did).
      def nsc(d: Int): Double =
        if (corpusMode == "axis") 0.25
        else 0.25 * (0.25 + 1.5 * d / Dim.toDouble)
      val base = spark.range(n).select(col("id").as("vec_id"),
        array((0 until Dim).map { d =>
          u(pmod(col("id"), lit(nClusters.toLong)), lit(d), 1) +
            lit(nsc(d)) * (u(col("id"), lit(d), 2) - lit(0.5))
        }: _*).as("v"))
      val twins = spark.range(nq).select(
        (col("id") + lit(2000000000L)).as("vec_id"),
        array((0 until Dim).map { d =>
          (u(pmod(col("id"), lit(nClusters.toLong)), lit(d), 1) +
            lit(nsc(d)) * (u(col("id"), lit(d), 2) - lit(0.5)) +
            lit(0.04) * (u(col("id"), lit(d), 3) - lit(0.5))) * lit(1.05)
        }: _*).as("v"))
      val raw = base.unionByName(twins).repartition(32).localCheckpoint(true)
      if (corpusMode == "rotgauss")
        rotate(raw, globalQ).repartition(32).localCheckpoint(true)
      else raw
    }

    /** Deterministic parametric-OPQ rotation for m subspaces: PCA
      * basis from the exact covariance of a 1-in-8 hash slice,
      * eigen-directions allocated to subspaces balancing the
      * log-eigenvalue sums (Ge et al. eq. 14's independence+balance
      * surrogate). Rows of R = the reordered orthonormal basis.
      */
    def opqRotation(emb: DataFrame, m: Int): Array[Array[Double]] = {
      val sample = emb
        .where(pmod(xxhash64(col("vec_id"), lit(99)), lit(8)) === 0)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      val nS = sample.length
      val mean = new Array[Double](Dim)
      sample.foreach(v => (0 until Dim).foreach(i => mean(i) += v(i)))
      (0 until Dim).foreach(i => mean(i) /= nS)
      val cov = Array.ofDim[Double](Dim, Dim)
      sample.foreach { v =>
        var i = 0
        while (i < Dim) {
          var j = i
          val di = v(i) - mean(i)
          while (j < Dim) { cov(i)(j) += di * (v(j) - mean(j)); j += 1 }
          i += 1
        }
      }
      for (i <- 0 until Dim; j <- i until Dim) {
        cov(i)(j) /= (nS - 1); cov(j)(i) = cov(i)(j)
      }
      val eig = new org.apache.commons.math3.linear.EigenDecomposition(
        new org.apache.commons.math3.linear.Array2DRowRealMatrix(cov))
      val pairs = (0 until Dim)
        .map(i => (eig.getRealEigenvalue(i), eig.getEigenvector(i).toArray))
        .sortBy { case (lam, vec) => (-lam, vec(0)) } // deterministic order
      val perSub = Dim / m
      val logSum = Array.fill(m)(0.0)
      val buckets = Array.fill(m)(Vector.empty[Array[Double]])
      pairs.foreach { case (lam, vec) =>
        val open = (0 until m).filter(b => buckets(b).size < perSub)
        val b = open.minBy(logSum)
        logSum(b) += math.log(math.max(lam, 1e-12))
        buckets(b) = buckets(b) :+ vec
      }
      buckets.flatten.toArray
    }

    def rotate(df: DataFrame, r: Array[Array[Double]]): DataFrame = {
      val bc = spark.sparkContext.broadcast(r)
      df.select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .mapPartitions { it =>
          val m = bc.value
          it.map { case (id, v) =>
            val a = v.toArray
            val out = new Array[Double](m.length)
            var i = 0
            while (i < m.length) {
              var s = 0.0; var j = 0
              val row = m(i)
              while (j < a.length) { s += row(j) * a(j); j += 1 }
              out(i) = s; i += 1
            }
            (id, out.toSeq)
          }
        }.toDF("vec_id", "v")
    }

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
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

      for (m <- mDials; cells <- cellsDials) {
        val rot = opqRotation(emb, m)
        val rEmb = rotate(emb, rot).repartition(32).localCheckpoint(true)
        val rQueries = rotate(
          queries.select(col("qid").as("vec_id"), col("qv").as("v")), rot)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
          .localCheckpoint(true)
        for ((tag, e, q) <- Seq(("plain", emb, queries),
            ("opq", rEmb, rQueries))) {
          val cents = Graft.kmeansCentroids(e, "vec_id", "v", cells, 2)
            .localCheckpoint(true)
          val books = Graft.ivfPqCodebooks(e, "vec_id", "v",
            cents, "cent_id", "cv", Dim, m, K, 2).localCheckpoint(true)
          val idx = Graft.ivfPqIndex(e, "vec_id", "v", cents, "cent_id",
            "cv", books, residual = true)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          idx.count()
          val line = nprobes.map { np =>
            val (h, t) = time {
              val s = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", books,
                q, "qid", "qv", k = 20, nprobe = np,
                excludeSelf = true, residual = true)
              top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
            }
            f"np$np=${h.toDouble / nTruth}%5.3f(${t}%4.1f s)"
          }.mkString("  ")
          println(f"n=$n%7d m=$m%3d cells=$cells%4d $tag%-6s residual: $line")
          idx.unpersist(true)
          spark.catalog.clearCache()
        }
      }
    }
    spark.stop()
  }
}
