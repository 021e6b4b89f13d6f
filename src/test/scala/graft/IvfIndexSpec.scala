package graft

import org.apache.spark.sql.functions._
import graft.api.Graft

/** IVF index persistence (#73): build the corpus assignment ONCE,
  * store it bucketed by cell, and serve ANN queries against the stored
  * table. Pins (a) stored-index serving == the gated `q_ann_ivf`
  * path, (b) the bucketed round-trip changes nothing, and (c) the
  * bucketed layout removes the index-side shuffle a plain stored
  * frame would pay under a sort-merge probe join.
  */
class IvfIndexSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The gated query's deterministic centroid rule (vec_id % 50). */
  private def cents = emb.where(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  private def queries = emb.where(col("vec_id") < 10)

  test("stored-shape ivfQuery reproduces the gated q_ann_ivf") {
    val idx = Graft.ivfIndex(emb, "vec_id", "v", cents, "cent_id", "cv")
    val got = Graft.ivfQuery(idx, cents, "cent_id", "cv", queries,
        "vec_id", "v", k = 5, nprobe = 2, excludeSelf = true)
      .select(col("q_id"), col("rank"), col("id").as("vec_id"), col("cos"))
    val want = SparkEntry.queries("q_ann_ivf")(spark, sf)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "index-then-serve diverged from the gated single-pass q_ann_ivf")
  }

  test("literal element budget: rows x dim guarded, dim derived at call time") {
    // ADVICE r20: the per-task-heap hazard of the collected argmax
    // literal scales with rows x dim, and the row cap alone admitted
    // 8-16x the probe-41-measured OOM mass at realistic embedding
    // dims. The budget is maxRows x 64 elements (the dim-64 basis the
    // probe measured), so raising the row dial still scales the escape.
    // Since r22 the budget is over the SUMMED element count (ADVICE
    // r21: one anomalously wide row must not refuse an in-budget fit).
    // helper arithmetic, both sides of the line (elems, rows)
    Graft.requireLiteralElems(16384L * 64, 16384, 16384, "t", "r") // at budget
    Graft.requireLiteralElems(1024L * 1024, 1024, 16384, "t", "r") // 1M = at budget
    val over = intercept[IllegalArgumentException] {
      Graft.requireLiteralElems(16384L * 65, 16384, 16384, "t", "r")
    }
    assert(over.getMessage.contains("element"), over.getMessage)
    // ADVICE r21: ONE dirty wide row among narrow ones no longer
    // inflates the budget check — rows x max-dim would read this as
    // 1000x1024 (over), the true summed mass is ~1000x64 (in budget)
    Graft.requireLiteralElems(999L * 64 + 1024, 1000, 16384, "t", "r")
    // end-to-end: a high-dim centroid frame refuses BEFORE building
    // the plan even though its ROW count is inside maxCentroids
    import spark.implicits._
    val wide = Seq.tabulate(3)(i =>
      (i.toLong, Seq.fill(100)(i.toDouble + 0.5))).toDF("cent_id", "cv")
    val e = intercept[IllegalArgumentException] {
      Graft.ivfIndex(emb, "vec_id", "v", wide, "cent_id", "cv",
        maxCentroids = 4) // 3 rows pass the row cap; 300 > 4*64 = 256
    }
    assert(e.getMessage.contains("ivfIndex") &&
      e.getMessage.contains("element"), e.getMessage)
    // kmeansCentroids guards the Lloyd literal the same way: k inside
    // any row dial but k x dim past the budget must refuse loudly
    // before the first round (previously an executor OOM mid-job)
    val n = 4
    val bigDim = (Graft.MaxBroadcastCentroids.toLong * 64 / n + 1).toInt
    val fat = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(bigDim)(i.toDouble + 0.25))).toDF("id", "v")
    val k = intercept[IllegalArgumentException] {
      Graft.kmeansCentroids(fat, "id", "v", k = n, iters = 1)
    }
    assert(k.getMessage.contains("kmeansCentroids") &&
      k.getMessage.contains("element"), k.getMessage)
  }

  test("serving path tolerates dirty vectors; no dead vector heads a top-k") {
    // zero-norm / null / dim-mismatched vectors (failed upstream
    // embedding jobs) must neither crash the fit-index-serve pipeline
    // nor appear in any query's results — their cosines are NULL by
    // the cosine_sim dirty-embedding rule, so they rank out everywhere
    import spark.implicits._
    val dirty = Seq(
      (9000L, Some(Seq.fill(64)(0.0))),      // zero norm
      (9001L, None: Option[Seq[Double]]),    // null embedding
      (9002L, Some(Seq.fill(32)(0.5)))       // dim mismatch
    ).toDF("vec_id", "v")
    val mixed = emb.unionByName(dirty)
    val fitted = Graft.kmeansCentroids(mixed, "vec_id", "v", k = 10, iters = 2)
    assert(fitted.count() == 10)
    // vectors with no defined cosine carry no direction, so they are
    // excluded from the fit entirely: poisoning a corpus must not
    // move a single centroid
    val cleanFit = Graft.kmeansCentroids(emb, "vec_id", "v", k = 10, iters = 2)
    assert(fitted.exceptAll(cleanFit).count() == 0 &&
      cleanFit.exceptAll(fitted).count() == 0,
      "dirty vectors moved the fitted centroids")
    val idx = Graft.ivfIndex(mixed, "vec_id", "v", fitted, "cent_id", "cv")
    assert(idx.count() == mixed.count(), "index must carry every row")
    val res = Graft.ivfQuery(idx, fitted, "cent_id", "cv", queries,
      "vec_id", "v", k = 5, nprobe = 3, excludeSelf = true)
    assert(res.groupBy("q_id").count().where(col("count") =!= 5).isEmpty,
      "every query must still get k results")
    assert(res.where(col("id") >= 9000L).isEmpty,
      "a dead vector must never appear in a top-k")
    assert(res.where(col("cos").isNull || isnan(col("cos"))).isEmpty,
      "served scores must be real numbers")
  }

  test("kmeansCentroids: deterministic fit, full coverage, serviceable recall") {
    val c1 = Graft.kmeansCentroids(emb, "vec_id", "v", k = 10, iters = 3)
    val c2 = Graft.kmeansCentroids(emb, "vec_id", "v", k = 10, iters = 3)
    assert(c1.exceptAll(c2).count() == 0 && c2.exceptAll(c1).count() == 0,
      "k-means fit must be deterministic run-to-run")
    assert(c1.count() == 10)
    // every cell of the fitted index is non-empty (no dead centroids
    // on this corpus) …
    val idx = Graft.ivfIndex(emb, "vec_id", "v", c1, "cent_id", "cv")
    assert(idx.select("cell").distinct().count() == 10,
      "fitted centroids left empty cells")
    // … and serving against fitted centroids reaches the brute-force
    // baseline's neighbors well before scanning every cell
    val got = Graft.ivfQuery(idx, c1, "cent_id", "cv", queries,
      "vec_id", "v", k = 5, nprobe = 3, excludeSelf = true)
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select(col("q_id"), col("vec_id").as("id"))
    val hits = got.select("q_id", "id").intersect(brute).count()
    val total = brute.count()
    assert(hits >= (total * 0.5).toLong,
      s"recall@5 with nprobe=3/10 fitted cells too low: $hits/$total")
  }

  test("kcenter seeding: deterministic under repartitioning, covers every planted cluster, loud cap") {
    import spark.implicits._
    // a tight 8-cluster mixture at k = #clusters: the regime where the
    // hash draw leaves ~1/e of clusters seedless (probe 36/37) and the
    // greedy farthest-point seeds cover all of them by construction
    def u(id: Long, c: Int, salt: Int): Double = {
      val h = java.lang.Long.hashCode((id * 1315423911L) ^ (c * 2654435761L) ^ salt)
      ((h & 0x7fffffff) % 1000000) / 1000000.0
    }
    val pts = (0 until 400).map { i =>
      val cl = (i % 8).toLong
      (i.toLong, (0 until 16).map(c => u(cl, c, 1) + 0.005 * (u(i.toLong, c, 2) - 0.5)).toSeq)
    }
    val df1 = pts.toDF("vec_id", "v").repartition(7)
    val df2 = pts.toDF("vec_id", "v").repartition(13, col("vec_id"))
    val c1 = Graft.kmeansCentroids(df1, "vec_id", "v", k = 8, iters = 2,
      seedMode = "kcenter")
    val c2 = Graft.kmeansCentroids(df2, "vec_id", "v", k = 8, iters = 2,
      seedMode = "kcenter")
    assert(c1.exceptAll(c2).count() == 0 && c2.exceptAll(c1).count() == 0,
      "kcenter-seeded fit must be bit-identical under repartitioning")
    // coverage: the 8 planted bases route to 8 DISTINCT cells — the
    // property the hash draw cannot promise at k = #clusters
    val bases = (0 until 8).map { cl =>
      (cl.toLong, (0 until 16).map(c => u(cl.toLong, c, 1)).toSeq)
    }.toDF("vec_id", "v")
    val cells = Graft.ivfIndex(bases, "vec_id", "v", c1, "cent_id", "cv")
      .select("cell").distinct().count()
    assert(cells == 8,
      s"kcenter seeding left planted clusters sharing cells ($cells/8)")
    // the loud cap names the cost and the alternative
    val bad = intercept[IllegalArgumentException] {
      Graft.kmeansCentroids(df1, "vec_id", "v", k = 600, iters = 1,
        seedMode = "kcenter")
    }
    assert(bad.getMessage.contains("maxK") &&
      bad.getMessage.contains("parallel"))
  }

  test("parallel (k-means||) seeding: deterministic under repartitioning, covers planted clusters, no 512 cap") {
    import spark.implicits._
    // the kcenter spec's tight 8-cluster mixture — the regime where a
    // hash draw leaves ~1/e of clusters seedless and coverage-aware
    // seeding must find all of them
    def u(id: Long, c: Int, salt: Int): Double = {
      val h = java.lang.Long.hashCode((id * 1315423911L) ^ (c * 2654435761L) ^ salt)
      ((h & 0x7fffffff) % 1000000) / 1000000.0
    }
    val pts = (0 until 400).map { i =>
      val cl = (i % 8).toLong
      (i.toLong, (0 until 16).map(c => u(cl, c, 1) + 0.005 * (u(i.toLong, c, 2) - 0.5)).toSeq)
    }
    val df1 = pts.toDF("vec_id", "v").repartition(7)
    val df2 = pts.toDF("vec_id", "v").repartition(13, col("vec_id"))
    val c1 = Graft.kmeansCentroids(df1, "vec_id", "v", k = 8, iters = 2,
      seedMode = "parallel")
    val c2 = Graft.kmeansCentroids(df2, "vec_id", "v", k = 8, iters = 2,
      seedMode = "parallel")
    assert(c1.exceptAll(c2).count() == 0 && c2.exceptAll(c1).count() == 0,
      "parallel-seeded fit must be bit-identical under repartitioning")
    assert(c1.count() == 8, "k-means|| must deliver k seeds here")
    // coverage: the 8 planted bases route to 8 DISTINCT cells — the
    // k-means|| oversample + weighted re-cluster promise at k = #clusters
    val bases = (0 until 8).map { cl =>
      (cl.toLong, (0 until 16).map(c => u(cl.toLong, c, 1)).toSeq)
    }.toDF("vec_id", "v")
    val cells = Graft.ivfIndex(bases, "vec_id", "v", c1, "cent_id", "cv")
      .select("cell").distinct().count()
    assert(cells == 8,
      s"parallel seeding left planted clusters sharing cells ($cells/8)")
    // NO k ceiling: past kcenter's 512 cap the mode must fit, not
    // refuse — a corpus smaller than k simply yields one seed per
    // usable point (every point becomes a candidate)
    val big = Graft.kmeansCentroids(df1, "vec_id", "v", k = 600, iters = 0,
      seedMode = "parallel")
    assert(big.count() == 400,
      "k > corpus: every usable point should seed its own cell")
    // integral-id refusal mirrors kcenter (the draw/tie-break key)
    val strIds = pts.map { case (i, v) => (s"d$i", v) }.toDF("vec_id", "v")
    val bad = intercept[IllegalArgumentException] {
      Graft.kmeansCentroids(strIds, "vec_id", "v", k = 4, iters = 1,
        seedMode = "parallel")
    }
    assert(bad.getMessage.contains("integral"))
  }

  test("bucketed round-trip: equal results, one fewer exchange to probe") {
    spark.sql("DROP TABLE IF EXISTS ivf_idx")
    spark.sql("DROP TABLE IF EXISTS ivf_idx_plain")
    try {
      val idx = Graft.ivfIndex(emb, "vec_id", "v", cents, "cent_id", "cv")
      Graft.writeIvfIndex(idx, "ivf_idx", buckets = 8, overwrite = true)
      idx.write.mode("overwrite").format("parquet").saveAsTable("ivf_idx_plain")
      val stored = spark.table("ivf_idx")
      val inMem = Graft.ivfQuery(idx, cents, "cent_id", "cv", queries,
        "vec_id", "v", k = 5, nprobe = 2, excludeSelf = true)
      val fromDisk = Graft.ivfQuery(stored, cents, "cent_id", "cv", queries,
        "vec_id", "v", k = 5, nprobe = 2, excludeSelf = true)
      assert(fromDisk.exceptAll(inMem).count() == 0 &&
        inMem.exceptAll(fromDisk).count() == 0,
        "bucketed round-trip changed the served results")
      // force the probe join onto the sort-merge path and compare the
      // SAME stored query against a bucketed vs a plain table: the
      // bucketed scan satisfies the cell distribution, the plain one
      // must add exactly the index-side shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def nShuffles(df: org.apache.spark.sql.DataFrame): Int =
          "Exchange hashpartitioning".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
        val b = nShuffles(Graft.ivfQuery(stored, cents, "cent_id", "cv",
          queries, "vec_id", "v", k = 5, nprobe = 2))
        val p = nShuffles(Graft.ivfQuery(spark.table("ivf_idx_plain"),
          cents, "cent_id", "cv", queries, "vec_id", "v", k = 5, nprobe = 2))
        assert(b == p - 1,
          s"bucketed index should save exactly the index-side shuffle " +
            s"(bucketed=$b, plain=$p)")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        10L * 1024 * 1024)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_plain")
    }
  }

  test("ivf x sq8 compaction: state -> bucketed store -> serve is identity") {
    // the #209 scaladoc's compaction cadence, proven end-to-end: byte
    // codes (array<tinyint>) survive the writeIvfIndex parquet
    // round-trip and the stored table serves bit-identically. The
    // ivfQuery exchange differential does not apply here — ivfSqQuery
    // broadcasts the probe list, so the corpus side needs no
    // distribution either way; bucketing buys scan pruning on a real
    // cluster, not a removed exchange.
    spark.sql("DROP TABLE IF EXISTS ivf_sq_idx")
    try {
      graft.api.Graft.install(spark)
      val usable = emb.where(call_function("usable_vec", col("v"), lit(64)))
      val bounds = Graft.ivfSqBounds(usable, "vec_id", "v",
        cents, "cent_id", "cv", 64)
      val idx = Graft.ivfSqIndex(usable, "vec_id", "v", cents, "cent_id",
        "cv", bounds, 64)
      Graft.writeIvfIndex(idx, "ivf_sq_idx", buckets = 8, overwrite = true)
      val q10 = usable.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      def serve(ix: org.apache.spark.sql.DataFrame) =
        Graft.ivfSqQuery(ix, cents, "cent_id", "cv", bounds,
          q10, "qid", "qv", k = 5, nprobe = 2, excludeSelf = true)
      val inMem = serve(idx)
      val fromDisk = serve(spark.table("ivf_sq_idx"))
      assert(fromDisk.exceptAll(inMem).count() == 0 &&
        inMem.exceptAll(fromDisk).count() == 0,
        "bucketed round-trip changed the served SQ results")
      // the stored grain really is bytes: the table schema carries the
      // tinyint array, not a widened int
      val dt = spark.table("ivf_sq_idx").schema("codes").dataType
      assert(dt.simpleString == "array<tinyint>",
        s"stored codes widened to ${dt.simpleString}")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_sq_idx")
  }

  test("kmeansCentroids: fit is identical under any input partitioning") {
    // the mean recompute sums unit-direction components in fixed-point
    // (compact-long decimal — probe 12), so the fitted centroids — and
    // every cell assignment derived from them — must be bit-identical
    // regardless of how the corpus is partitioned (a double fold would
    // reorder summation with parallelism and let assignments drift;
    // §6a discipline)
    val a = Graft.kmeansCentroids(emb.repartition(3), "vec_id", "v",
      k = 10, iters = 3).collect().toSet
    val b = Graft.kmeansCentroids(emb.repartition(17), "vec_id", "v",
      k = 10, iters = 3).collect().toSet
    assert(a == b, "k-means fit drifted with input partitioning")
  }

  test("incremental semantic dedup == the full run's batch slice") {
    // store = the lower-id half of the corpus (already indexed), batch
    // = the upper half; with the SAME centroids the incremental
    // verdicts must equal the full-corpus semanticDropList restricted
    // to batch ids — same drops, same counts, same max cosines
    val tau = 0.45
    val k = 8; val iters = 3
    val centsFit = Graft.kmeansCentroids(emb, "vec_id", "v", k, iters)
    val split = 250L
    val store = Graft.ivfIndex(emb.where(col("vec_id") < split),
      "vec_id", "v", centsFit, "cent_id", "cv")
    val inc = Graft.semanticDedupIncremental(store, centsFit,
      "cent_id", "cv", emb.where(col("vec_id") >= split),
      "vec_id", "v", tau)
    val full = graft.operators.Similarity.semanticDropList(emb, k, iters, tau)
      .where(col("vec_id") >= split)
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "incremental verdicts diverged from the full-corpus run")
    assert(inc.count() > 0, "planted split produced no verdicts to compare")
  }

  test("incremental semantic dedup: bucketed store joins without a store-side shuffle") {
    spark.sql("DROP TABLE IF EXISTS sem_idx")
    spark.sql("DROP TABLE IF EXISTS sem_idx_plain")
    try {
      val centsFit = Graft.kmeansCentroids(emb, "vec_id", "v", 8, 2)
      val store = Graft.ivfIndex(emb.where(col("vec_id") < 250),
        "vec_id", "v", centsFit, "cent_id", "cv")
      Graft.writeIvfIndex(store, "sem_idx", buckets = 8, overwrite = true)
      store.write.mode("overwrite").format("parquet").saveAsTable("sem_idx_plain")
      val batch = emb.where(col("vec_id") >= 250)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def nShuffles(df: org.apache.spark.sql.DataFrame): Int =
          "Exchange hashpartitioning".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
        val b = nShuffles(Graft.semanticDedupIncremental(
          spark.table("sem_idx"), centsFit, "cent_id", "cv",
          batch, "vec_id", "v", 0.45))
        val p = nShuffles(Graft.semanticDedupIncremental(
          spark.table("sem_idx_plain"), centsFit, "cent_id", "cv",
          batch, "vec_id", "v", 0.45))
        assert(b == p - 1,
          s"bucketed store should save exactly the store-side shuffle " +
            s"(bucketed=$b, plain=$p)")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        10L * 1024 * 1024)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sem_idx")
      spark.sql("DROP TABLE IF EXISTS sem_idx_plain")
    }
  }
}
