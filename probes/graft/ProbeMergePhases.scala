package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
// disposable: r22 — fine-grained phase+job-count breakdown of the #69
// mergeComponents tail on the real sf0.1 batch (142 contracted edges):
// where do ~1.8 s go when the CC fixpoint itself is already cheap?
object ProbeMergePhases {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    def t[A](tag: String)(body: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime(); val r = body
      println(f"[phase] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s, jobs=${jobs.get() - j0}")
      r
    }
    import graft.operators.Dedup
    graft.api.Graft.install(spark)
    // warm everything once (base memo fit, code paths)
    t("warmup full #69") {
      SparkEntry.queries("q_dup_clusters_incremental")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    (1 to 2).foreach { rep =>
      println(s"=== rep $rep ===")
      spark.catalog.clearCache()
      val ex0 = t("ex0 build+persist (count)") {
        val e = Tables.documents(spark, dir)
          .select(col("doc_id").as("id"),
            (pmod(col("doc_id"), lit(3L)) === 1L).as("is_delta"),
            explode(expr("word_shingle_hashes(text, 3)")).as("shingle"))
          .persist()
        e.count(); e
      }
      val incPairs = Dedup.incrementalPairsFromExploded(ex0, Dedup.JaccardTau,
        Dedup.DfCap).select("id_new", "id_old")
      val baseLabels = spark.read.parquet(
        Dedup.memoizedLabelStore(spark, dir, "base")(_ =>
          throw new IllegalStateException("base memo should exist")))
      // ---- mergeComponents INLINED, phase by phase ----
      val lab = baseLabels.select(col("id"), col("component_id"),
        col("component_size"))
      val e = t("A: batch-edge checkpoint (pairs plan runs HERE)") {
        incPairs.select(col("id_new").as("src"), col("id_old").as("dst"))
          .localCheckpoint(true)
      }
      val endpoints = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
      val touched = t("B: touched semi-join checkpoint") {
        lab.join(broadcast(endpoints), Seq("id"), "left_semi")
          .localCheckpoint(true)
      }
      val asSrc = touched.select(col("id").as("src"),
        col("component_id").as("src_l"))
      val asDst = touched.select(col("id").as("dst"),
        col("component_id").as("dst_l"))
      val contracted = e
        .join(broadcast(asSrc), Seq("src"), "left")
        .join(broadcast(asDst), Seq("dst"), "left")
        .select(coalesce(col("src_l"), col("src")).as("src"),
          coalesce(col("dst_l"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
      val cc = t("C: contracted CC fixpoint") {
        graft.api.Graft.connectedComponents(contracted, "src", "dst")
          .select(col("id"), col("component_id").as("new_label"))
          .localCheckpoint(true)
      }
      val oldLabelIds = touched.select(col("component_id").as("id")).distinct()
      val mOld = cc.join(broadcast(oldLabelIds), Seq("id"), "left_semi")
        .select(col("id").as("component_id"), col("new_label"))
      val mNew = cc.join(broadcast(oldLabelIds), Seq("id"), "left_anti")
        .select(col("id"), col("new_label").as("component_id"))
      val sizeOld = touched.select(col("component_id"), col("component_size"))
        .distinct()
        .join(broadcast(mOld), Seq("component_id"))
        .groupBy("new_label").agg(sum("component_size").as("s_old"))
      val sizeNew = mNew.groupBy(col("component_id").as("new_label"))
        .agg(count(lit(1)).as("s_new"))
      val newSizes = sizeOld.join(sizeNew, Seq("new_label"), "full_outer")
        .select(col("new_label").as("component_id"),
          (coalesce(col("s_old"), lit(0L)) +
            coalesce(col("s_new"), lit(0L))).as("merged_size"))
      val relabeledOld = lab
        .join(broadcast(mOld.withColumnRenamed("new_label", "nl")),
          Seq("component_id"), "left")
        .select(col("id"),
          coalesce(col("nl"), col("component_id")).as("component_id"),
          col("component_size"))
      val joined = relabeledOld
        .unionByName(mNew.withColumn("component_size", lit(null).cast("long")))
        .join(broadcast(newSizes.withColumnRenamed("merged_size", "ms")),
          Seq("component_id"), "left")
      val merged = joined.select(col("id"), col("component_id"),
        coalesce(col("ms"), col("component_size")).as("component_size"))
      t("D: relabel tail noop") {
        merged.write.format("noop").mode("overwrite").save()
      }
      t("E: final orderBy(doc_id) noop") {
        merged.select(col("id").as("doc_id"),
          col("component_id").as("cluster_id"),
          col("component_size").as("cluster_size"))
          .orderBy("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      ex0.unpersist()
    }
    spark.stop()
  }
}
