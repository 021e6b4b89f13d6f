package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// disposable probe main: the SQ8 leg of SCALING probe 33 — scalar-
// quantizer recall on the SAME planted-twin mixture corpus the
// ProbeRecallScale grid uses, so the quantizer ladder (SQ8 / PQ raw /
// PQ residual / +rerank) reads off one table. SQ8 is a FLAT scan
// (64 B/vector, 8x less I/O than float64, no routing), so the
// interesting readout is its recall ceiling vs the PQ flavors'
// m-bound one, and the flat-scan wall as the corpus grows.
// args: [Ns=131072,524288]
object ProbeSqRecall {
  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("131072,524288")
      .split(",").map(_.trim.toLong).toSeq
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
    // identical corpus construction to ProbeRecallScale (planted
    // scaled twins win the MIPS race by construction)
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
      val bounds = Graft.sqBounds(emb, "vec_id", "v", Dim).localCheckpoint(true)
      val codes = Graft.sqEncode(emb, "vec_id", "v", bounds, Dim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count()
      // flat float64 baseline wall on the same box, same top-20 shape
      val (hFlat, tFlat) = time {
        val s = emb.crossJoin(broadcast(
            queries.select(col("qid").as("q_id"), col("qv"))))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
          .withColumn("r", row_number().over(w)).where(col("r") <= 20)
          .select(col("q_id"), col("vec_id").as("id"))
        top1.join(s, Seq("q_id", "id")).count()
      }
      val (hSq, tSq) = time {
        val s = Graft.sqQuery(codes, bounds, queries, "qid", "qv",
          k = 20, excludeSelf = true)
        top1.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
      }
      println(f"n=$n%7d flat=${hFlat.toDouble / nTruth}%5.3f (${tFlat}%5.1f s)  " +
        f"sq8=${hSq.toDouble / nTruth}%5.3f (${tSq}%5.1f s)")
      codes.unpersist(true)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
