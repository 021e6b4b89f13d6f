package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

// disposable: SCALING probe 34 — the minhash-LSH banding dial at mass
// (VERDICT r16 item 3 follow-through). Measures, per (scale, dial):
// band-bucket collision rows (the pair-producing join's real fan-out),
// emitted candidate pairs, and wall — for the fixed 16x4 default vs
// the Graft.minhashBanding rule's output at that corpus size.
// Corpora: tools/scalegen.py x10/x64 of sf0.1 (copysuffix'd documents —
// mass growth without the verbatim-dup cliff).
object ProbeBanding {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.api.Graft
    graft.api.Graft.install(spark)

    def occupancy(dir: String, bands: Int, rows: Int): (Long, Long, Double) = {
      spark.catalog.clearCache()
      val k = bands * rows
      val t0 = System.nanoTime()
      // the #27 pipeline's exact shingle grain: word_shingles(text, 3)
      val sigs = Tables.documents(spark, dir)
        .select(col("doc_id"), expr("word_shingles(text, 3)").as("sh"))
        .select(col("doc_id"), expr(s"minhash_sig(sh, $k)").as("sig"))
        .where(col("sig").isNotNull)
      val bandCols = (0 until bands).map { j =>
        xxhash64((0 until rows).map(r => col("sig").getItem(j * rows + r)): _*)
      }
      val bk = sigs.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
      // collision rows = sum over (band, bucket) of c*(c-1)/2 — the
      // exact row count the self-join produces before doc_a < doc_b
      val coll = bk.groupBy("band", "bucket").agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
        .agg(sum((col("c") * (col("c") - 1) / 2).cast("long"))).head()
      val collisions = if (coll.isNullAt(0)) 0L else coll.getLong(0)
      val cand = bk.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
        .join(bk.select(col("doc_id").as("doc_b"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
      val wall = (System.nanoTime() - t0) / 1e9
      (collisions, cand, wall)
    }

    val legs = if (args.isEmpty) Set("mass", "tmpl") else args.toSet
    for ((tag, dir, n) <- Seq(
        ("x1", "/root/testdata/sf0.1", 5000L),
        ("x10", "/tmp/sfx10", 50000L),
        ("x64", "/tmp/sfx64", 320000L))
      if legs.contains("mass")) {
      val (db, dr) = (16, 4)
      val (rb, rr) = Graft.minhashBanding(n, 0.8)
      for ((dial, b, r) <- Seq(("default", db, dr), ("rule", rb, rr))) {
        val (collisions, cand, wall) = occupancy(dir, b, r)
        println(f"$tag%4s $dial%-8s ${b}%3dx$r%-3d K=${b * r}%4d " +
          f"collisionRows=$collisions%12d candPairs=$cand%10d wall=$wall%7.1f s")
      }
    }

    // leg 2: a TEMPLATED corpus — every doc shares a 60-word
    // boilerplate prefix, so every unrelated pair sits at moderate
    // jaccard (~0.4, well below τ=0.8 but well above background).
    // This is the mass the rule's occupancy constraint exists for:
    // r=4 admits s=0.4 pairs at 2.6%/band and the join goes O(n²).
    if (legs.contains("tmpl")) {
      val template = (1 to 60).map(i => s"boilerplate$i").mkString(" ")
      val tmplDir = "/tmp/sf_templated"
      Tables.documents(spark, "/root/testdata/sf0.1")
        .select(col("doc_id"),
          concat(lit(template), lit(" "), coalesce(col("text"), lit("")))
            .as("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmplDir/documents.parquet")
      val (rb1, rr1) = Graft.minhashBanding(5000L, 0.8)
      for ((dial, b, r) <- Seq(("default", 16, 4), ("rule", rb1, rr1))) {
        val (collisions, cand, wall) = occupancy(tmplDir, b, r)
        println(f"tmpl $dial%-8s ${b}%3dx$r%-3d K=${b * r}%4d " +
          f"collisionRows=$collisions%12d candPairs=$cand%10d wall=$wall%7.1f s")
      }
    }
    spark.stop()
  }
}
