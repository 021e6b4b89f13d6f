package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Graft

/** Product-quantization serving path (#179): fit / encode / ADC query.
  * The gate queries (#177/#178) pin the deterministic seed-rule flavor
  * against the DuckDB oracle; this suite pins the k-means serving
  * flavor's fit determinism, the encode contract, ADC exactness
  * against reconstruction, recall against the exact inner-product
  * baseline, and the no-corpus-shuffle serving plan.
  */
class PqSpec extends SparkSpec {

  private val Dim = 64
  private val M = 8
  private val K = 64

  private def embTable: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private lazy val books =
    Graft.pqCodebooks(embTable, "vec_id", "v", Dim, M, K, iters = 3)
      .persist()

  test("pq fit: shape, determinism, and partition invariance") {
    val b = books.collect()
    assert(b.length == M * K, s"expected ${M * K} codewords, got ${b.length}")
    assert(b.forall(_.getSeq[Double](2).length == Dim / M),
      "codeword dim must equal the subvector width")
    val again = Graft.pqCodebooks(embTable, "vec_id", "v", Dim, M, K, iters = 3)
    assert(books.exceptAll(again).count() == 0 &&
      again.exceptAll(books).count() == 0, "refit drifted")
    val shuffled = Graft.pqCodebooks(embTable.repartition(7), "vec_id", "v",
      Dim, M, K, iters = 3)
    assert(books.exceptAll(shuffled).count() == 0 &&
      shuffled.exceptAll(books).count() == 0,
      "fit must be bit-identical under any input partitioning")
  }

  test("pq encode: every usable vector gets m in-range codes") {
    val codes = Graft.pqEncode(embTable, "vec_id", "v", books)
    assert(codes.count() == embTable.count(), "an embedding lost its code row")
    assert(codes.where(size(col("codes")) =!= M).count() == 0)
    val flat = codes.select(explode(col("codes")).as("c"))
    assert(flat.where(col("c") < 0 || col("c") >= K).count() == 0,
      "code id outside the codebook")
  }

  test("pq ADC: lookup-sum score equals q·recon; recall floor vs exact dot top-k") {
    graft.api.Graft.install(spark)
    val codes = Graft.pqEncode(embTable, "vec_id", "v", books)
    val queries = embTable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val served = Graft.pqQuery(codes, books, queries, "qid", "qv",
      k = 5, excludeSelf = true)
    assert(served.groupBy("q_id").count().where(col("count") =!= 5).count() == 0,
      "every query must serve exactly k rows")
    // ADC exactness: the table-lookup sum must equal the inner product
    // against the reconstructed vector (float re-association tolerance)
    val recon = codes
      .select(col("id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(books.select(col("subspace").as("s"), col("code"), col("cw")),
        Seq("s", "code"))
      .groupBy("id")
      .agg(flatten(transform(array_sort(collect_list(struct(col("s"), col("cw")))),
        t => t.getField("cw"))).as("rv"))
    val maxErr = served
      .join(recon, Seq("id"))
      .join(queries.select(col("qid").as("q_id"), col("qv")), Seq("q_id"))
      .select(abs(col("adc") -
        call_function("dot_product", col("qv"), col("rv"))).as("err"))
      .agg(max("err")).head.getDouble(0)
    assert(maxErr < 1e-9, s"ADC drifted from q·recon by $maxErr")
    // recall@5 vs the exact inner-product baseline at m=8, k=64
    // (measured 0.36 on this i.i.d.-random corpus; floor below noise)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val exact = embTable.crossJoin(
        broadcast(queries.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(w)).where(col("r") <= 5)
      .select(col("q_id"), col("vec_id").as("id"))
    val hits = exact.join(served.select("q_id", "id"), Seq("q_id", "id")).count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.25, s"PQ recall@5 fell to $recall") // measured 0.36
    // the serving-shaped dial: the TRUE nearest neighbor lands in the
    // served candidate list (k=20) — what an ADC tier feeding a
    // re-ranker actually needs (measured 0.8 here; i.i.d.-random
    // vectors are PQ's worst case — no cluster structure to spend
    // codewords on — so real embedding corpora sit above this floor)
    val served20 = Graft.pqQuery(codes, books, queries, "qid", "qv",
      k = 20, excludeSelf = true)
    val top1 = embTable.crossJoin(
        broadcast(queries.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id"))
    val t1in20 = top1.join(served20.select("q_id", "id"), Seq("q_id", "id")).count()
    assert(t1in20.toDouble / top1.count() >= 0.6,
      s"true-NN-in-candidates fell to ${t1in20.toDouble / top1.count()}")
  }

  test("ivfpq raw flavor: full-probe equals plain PQ; routed probes hold a recall floor") {
    graft.api.Graft.install(spark)
    val nCells = 8
    val cents = Graft.kmeansCentroids(embTable, "vec_id", "v", nCells, 2)
    // residual = false: raw-vector encoding is the ONLY flavor where
    // full-probe IVFADC must equal flat PQ exactly (same codes, no
    // cell-dependent term) — the composition-correctness pin
    val index = Graft.ivfPqIndex(embTable, "vec_id", "v",
      cents, "cent_id", "cv", books, residual = false).persist()
    // the composed index carries both layers for every usable vector
    val codes = Graft.pqEncode(embTable, "vec_id", "v", books)
    assert(index.count() == codes.count(), "composition lost vectors")
    assert(index.select("cell").distinct().count() <= nCells)
    val queries = embTable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // probing EVERY cell must reproduce plain PQ serving exactly: the
    // candidate set is the whole corpus and ADC sums the same partials
    val full = Graft.ivfPqQuery(index, cents, "cent_id", "cv", books,
      queries, "qid", "qv", k = 5, nprobe = nCells, excludeSelf = true,
      residual = false)
    val plain = Graft.pqQuery(codes, books, queries, "qid", "qv",
      k = 5, excludeSelf = true)
    val mism = full.select(col("q_id"), col("rank"), col("id").as("fid"))
      .join(plain.select(col("q_id"), col("rank"), col("id").as("pid")),
        Seq("q_id", "rank"), "full")
      .where(col("fid").isNull || col("pid").isNull ||
        col("fid") =!= col("pid")).count()
    assert(mism == 0, "full-probe IVFADC diverged from plain PQ")
    // routed serving: true NN lands in the top-20 candidates often
    // enough to feed a re-ranker even at nprobe 3/8 (measured 0.7 on
    // this corpus; the cell routing and the quantizer both lose a
    // little — the product of the two dials)
    val served20 = Graft.ivfPqQuery(index, cents, "cent_id", "cv", books,
      queries, "qid", "qv", k = 20, nprobe = 3, excludeSelf = true,
      residual = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val top1 = embTable.crossJoin(
        broadcast(queries.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id"))
    val hit = top1.join(served20.select("q_id", "id"), Seq("q_id", "id")).count()
    assert(hit.toDouble / top1.count() >= 0.5,
      s"IVFADC true-NN-in-candidates fell to ${hit.toDouble / top1.count()}")
    // serving plan: probes, codebook table, and centroids broadcast;
    // the index side never shuffle-joins
    val plan = served20.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into IVFADC serving:\n$plan")
    index.unpersist()
  }

  test("pq serving: gate parity under the seed codebook; no corpus-sized join") {
    // the facade with the GATE's deterministic seed codebook must
    // reproduce q_ann_pq — same neighbors, same ranks, ADC equal up to
    // float re-association (lookup-sum vs one 64-wide fold)
    val n = embTable.count()
    val mod = math.max(50L, n / math.max(1L,
      math.ceil(math.sqrt(n.toDouble)).toLong))
    val usable = embTable
      .where(size(col("v")) === Dim &&
        !exists(col("v"), x => x.isNull) &&
        call_function("dot_product", col("v"), col("v")) > 0)
    val seedBooks = usable.where(col("vec_id") % mod === 0)
      .select(explode(array((0 until M).map(s =>
        struct(lit(s).as("subspace"), col("vec_id").as("code"),
          slice(col("v"), s * (Dim / M) + 1, Dim / M).as("cw"))): _*)).as("p"))
      .select(col("p.subspace"), col("p.code"), col("p.cw"))
    val codes = Graft.pqEncode(usable, "vec_id", "v", seedBooks)
    val queries = usable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val served = Graft.pqQuery(codes, seedBooks, queries, "qid", "qv",
      k = 5, excludeSelf = true)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("id").as("vec_id"), col("adc"))
    val gate = SparkEntry.queries("q_ann_pq")(spark, sf)
    val joined = gate.select(col("q_id"), col("rank"),
        col("vec_id").as("gvec"), col("adc").as("gadc"))
      .join(served, Seq("q_id", "rank"), "full")
    assert(joined.where(col("gvec").isNull || col("vec_id").isNull ||
        col("gvec") =!= col("vec_id")).count() == 0,
      "facade and gate disagree on some (query, rank) slot")
    assert(joined.agg(max(abs(col("gadc") - col("adc")))).head.getDouble(0) < 1e-9)
    // scale shape: the codes scan joins the broadcast query table —
    // never a corpus-sized shuffle join
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"ADC join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into PQ serving:\n$plan")
  }

  test("ivfpq residual encoding: ADC = q·(c + recon(r)); recall beats raw at equal bits") {
    // the Jégou et al. IVFADC recipe proper (VERDICT r15 item 1):
    // PQ-quantize the coarse residual vec − centroid(cell), not the raw
    // vector — residuals concentrate around the origin, so the same bit
    // budget buys finer resolution; serving adds the per-(query, cell)
    // q·c constant back into the ADC score
    graft.api.Graft.install(spark)
    val nCells = 8
    val cents = Graft.kmeansCentroids(embTable, "vec_id", "v", nCells, 2)
    val rbooks = Graft.ivfPqCodebooks(embTable, "vec_id", "v",
      cents, "cent_id", "cv", Dim, M, K, iters = 3).persist()
    val rindex = Graft.ivfPqIndex(embTable, "vec_id", "v",
      cents, "cent_id", "cv", rbooks).persist()
    val q10 = embTable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // ADC exactness at full probe: the lookup-sum plus the q·c add-back
    // must equal the inner product against centroid + reconstructed
    // residual (float re-association tolerance)
    val served = Graft.ivfPqQuery(rindex, cents, "cent_id", "cv", rbooks,
      q10, "qid", "qv", k = 5, nprobe = nCells, excludeSelf = true)
    val recon = rindex
      .select(col("id"), col("cell"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(rbooks.select(col("subspace").as("s"), col("code"), col("cw")),
        Seq("s", "code"))
      .groupBy("id", "cell")
      .agg(flatten(transform(array_sort(collect_list(struct(col("s"), col("cw")))),
        t => t.getField("cw"))).as("rrec"))
      .join(cents.select(col("cent_id").as("cell"), col("cv")), Seq("cell"))
      .select(col("id"),
        zip_with(col("cv"), col("rrec"), (a, b) => a + b).as("rv"))
    val maxErr = served
      .join(recon, Seq("id"))
      .join(q10.select(col("qid").as("q_id"), col("qv")), Seq("q_id"))
      .select(abs(col("adc") -
        call_function("dot_product", col("qv"), col("rv"))).as("err"))
      .agg(max("err")).head.getDouble(0)
    assert(maxErr < 1e-9, s"residual ADC drifted from q·(c + recon(r)) by $maxErr")
    // recall at EQUAL dials vs the raw-encoding flavor (same centroids,
    // same m/k/iters, same nprobe): true-NN-in-top-20. Measured on the
    // gate corpus (deterministic fit, deterministic corpus):
    //   nprobe=3, 10 queries: residual 0.70 vs raw 0.50
    //   full probe, 50 queries: residual 0.90 vs raw 0.82
    // (i.i.d.-random vectors are the weakest case for residual gains —
    // real clustered embeddings sit higher). Floors leave noise margin
    // but pin the ordering: the residual flavor must never fall back to
    // the raw flavor's 0.5 regime.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    def top1(q: org.apache.spark.sql.DataFrame) =
      embTable.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
        .withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("q_id"), col("vec_id").as("id"))
    val t1 = top1(q10.select(col("qid").as("q_id"), col("qv")))
    val res20 = Graft.ivfPqQuery(rindex, cents, "cent_id", "cv", rbooks,
      q10, "qid", "qv", k = 20, nprobe = 3, excludeSelf = true)
    val hit = t1.join(res20.select("q_id", "id"), Seq("q_id", "id")).count()
    assert(hit.toDouble / t1.count() >= 0.6,
      s"residual IVFADC true-NN-in-candidates fell to ${hit.toDouble / t1.count()}" +
        " — below the raw flavor's historical 0.5/0.7 regime")
    // full-probe comparison isolates quantizer quality (routing
    // identical): residual must dominate raw on the 50-query set
    val q50 = embTable.where(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val t1b = top1(q50.select(col("qid").as("q_id"), col("qv"))).persist()
    val rawIdx = Graft.ivfPqIndex(embTable, "vec_id", "v",
      cents, "cent_id", "cv", books, residual = false)
    def fullHits(idx: org.apache.spark.sql.DataFrame,
        bk: org.apache.spark.sql.DataFrame, res: Boolean): Long = {
      val s = Graft.ivfPqQuery(idx, cents, "cent_id", "cv", bk,
        q50, "qid", "qv", k = 20, nprobe = nCells,
        excludeSelf = true, residual = res)
      t1b.join(s.select("q_id", "id"), Seq("q_id", "id")).count()
    }
    val hRes = fullHits(rindex, rbooks, res = true)
    val hRaw = fullHits(rawIdx, books, res = false)
    assert(hRes >= hRaw,
      s"residual encoding lost to raw at equal bits: $hRes < $hRaw of ${t1b.count()}")
    assert(hRes.toDouble / t1b.count() >= 0.8,
      s"residual full-probe candidate recall fell to ${hRes.toDouble / t1b.count()}")
    // serving plan: unchanged scale shape — probes/codebook/centroids
    // broadcast, index side never shuffle-joins
    val plan = res20.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into residual IVFADC serving:\n$plan")
    rindex.unpersist(); rbooks.unpersist(); t1b.unpersist()
  }

  test("flavor provenance: codebook marker, build-time agreement, lazy index check") {
    graft.api.Graft.install(spark)
    val nCells = 4
    val cents = Graft.kmeansCentroids(embTable, "vec_id", "v", nCells, 1)
    // the fit tags its output with the distribution it was trained on
    assert(books.select("fit_residual").distinct().collect()
      .map(_.getBoolean(0)).toSeq == Seq(false),
      "pqCodebooks must mark fit_residual = false")
    val rbooks = Graft.ivfPqCodebooks(embTable, "vec_id", "v",
      cents, "cent_id", "cv", Dim, M, K, iters = 1)
    assert(rbooks.select("fit_residual").distinct().collect()
      .map(_.getBoolean(0)).toSeq == Seq(true),
      "ivfPqCodebooks must mark fit_residual = true")
    // build-time agreement: composing a raw-fitted codebook with
    // residual encoding (the silent-recall-degradation class) refuses
    val e1 = intercept[IllegalArgumentException] {
      Graft.ivfPqIndex(embTable, "vec_id", "v", cents, "cent_id", "cv",
        books, residual = true)
    }
    assert(e1.getMessage.contains("fit_residual"))
    val e2 = intercept[IllegalArgumentException] {
      Graft.ivfPqIndex(embTable, "vec_id", "v", cents, "cent_id", "cv",
        rbooks, residual = false)
    }
    assert(e2.getMessage.contains("fit_residual"))
    // query-time codebook agreement mirrors it
    val rawIdx = Graft.ivfPqIndex(embTable, "vec_id", "v",
      cents, "cent_id", "cv", books, residual = false)
    val q = embTable.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val e3 = intercept[IllegalArgumentException] {
      Graft.ivfPqQuery(rawIdx, cents, "cent_id", "cv", books,
        q, "qid", "qv", k = 3, nprobe = 2, residual = true)
    }
    assert(e3.getMessage.contains("fit_residual"))
    // the INDEX marker check is lazy (inside the query plan): building
    // the mismatched plan forces nothing, the first action fails — so
    // a mixed-flavor union index fails loudly on its probed rows and a
    // not-yet-materialized index is never computed twice just to read
    // one marker row (r16 self-review). Unmarked codebooks skip the
    // codebook check, isolating the index-side assert.
    val mismatched = Graft.ivfPqQuery(rawIdx, cents, "cent_id", "cv",
      rbooks.drop("fit_residual"), q, "qid", "qv",
      k = 3, nprobe = 2, residual = true)
    val e4 = intercept[Exception] { mismatched.collect() }
    assert(e4.getMessage.contains("match the index's flavor"),
      s"expected the lazy flavor assert, got: ${e4.getMessage}")
    // unmarked index frames remain the caller's responsibility
    assert(Graft.ivfPqQuery(rawIdx.drop("residual"), cents, "cent_id",
      "cv", books, q, "qid", "qv", k = 3, nprobe = 2,
      residual = false).count() > 0)
  }

  test("rerank: full-shortlist tail equals brute force; hits never below ADC; no corpus shuffle") {
    graft.api.Graft.install(spark)
    val nCells = 8
    val cents = Graft.kmeansCentroids(embTable, "vec_id", "v", nCells, 2)
    val rbooks = Graft.ivfPqCodebooks(embTable, "vec_id", "v",
      cents, "cent_id", "cv", Dim, M, K, iters = 3).persist()
    val rindex = Graft.ivfPqIndex(embTable, "vec_id", "v",
      cents, "cent_id", "cv", rbooks).persist()
    val q10 = embTable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val n = embTable.count().toInt
    // 1. full probe + corpus-deep shortlist: the ADC stage surfaces
    // everything, so the exact tail must reproduce brute-force top-5
    // EXACTLY (ids, order, and the true-dot scores)
    val full = Graft.ivfPqQueryRerank(rindex, cents, "cent_id", "cv",
      rbooks, q10, "qid", "qv", embTable, "vec_id", "v",
      k = 5, nprobe = nCells, shortlist = n, excludeSelf = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val brute = embTable.crossJoin(broadcast(
        q10.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("id"), col("dot"))
    assert(full.exceptAll(brute).count() == 0 &&
      brute.exceptAll(full).count() == 0,
      "full-shortlist rerank must equal the brute-force exact top-k")
    // 2. the subset guarantee: a global-top-k member that reaches the
    // shortlist cannot be displaced by k others (fewer than k corpus
    // vectors out-dot it by definition), so per-query true-top-k hits
    // after rerank are >= the ADC stage's — asserted on the routed
    // dial where ADC noise actually binds
    val adc = Graft.ivfPqQuery(rindex, cents, "cent_id", "cv", rbooks,
      q10, "qid", "qv", k = 5, nprobe = 3, excludeSelf = true)
    val rr = Graft.ivfPqQueryRerank(rindex, cents, "cent_id", "cv",
      rbooks, q10, "qid", "qv", embTable, "vec_id", "v",
      k = 5, nprobe = 3, shortlist = 20, excludeSelf = true)
    val truth = brute.select(col("q_id"), col("id"))
    def hitsPerQ(d: DataFrame) = truth
      .join(d.select(col("q_id"), col("id"), lit(1L).as("h")),
        Seq("q_id", "id"), "left")
      .groupBy("q_id").agg(coalesce(sum("h"), lit(0L)).as("hits"))
    val worse = hitsPerQ(rr).withColumnRenamed("hits", "hr")
      .join(hitsPerQ(adc), "q_id")
      .where(col("hr") < col("hits")).count()
    assert(worse == 0,
      "rerank lost true-top-k hits vs its own ADC stage on some query")
    // 3. scale shape: the rerank tail joins the broadcast shortlist
    // into ONE corpus pass — no corpus-sized shuffle join anywhere
    val plan = rr.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into the rerank tail:\n$plan")
    // 4. dial validation
    val bad = intercept[IllegalArgumentException] {
      Graft.ivfPqQueryRerank(rindex, cents, "cent_id", "cv", rbooks,
        q10, "qid", "qv", embTable, "vec_id", "v",
        k = 10, nprobe = 3, shortlist = 5)
    }
    assert(bad.getMessage.contains("shortlist"))
    // 5. a shortlist with repeated (q_id, id) rows (e.g. a unioned
    // candidate set) must score each candidate ONCE — duplicates may
    // not occupy several of the k result slots
    val sl = Graft.ivfPqQuery(rindex, cents, "cent_id", "cv", rbooks,
      q10, "qid", "qv", k = 20, nprobe = 3, excludeSelf = true)
    val once = Graft.rerankExact(sl, embTable, "vec_id", "v",
      q10, "qid", "qv", k = 5)
    val duped = Graft.rerankExact(sl.unionByName(sl), embTable,
      "vec_id", "v", q10, "qid", "qv", k = 5)
    assert(once.exceptAll(duped).count() == 0 &&
      duped.exceptAll(once).count() == 0,
      "duplicate shortlist rows changed the rerank result")
    rindex.unpersist(); rbooks.unpersist()
  }

  test("sq8: byte codes in range, order-free fit, error bound, recall >= pq at equal corpus") {
    graft.api.Graft.install(spark)
    val bounds = Graft.sqBounds(embTable, "vec_id", "v", Dim)
    // the fit is exact min/max — bit-identical under any partitioning,
    // no seed rule involved
    val again = Graft.sqBounds(embTable.repartition(7), "vec_id", "v", Dim)
    assert(bounds.exceptAll(again).count() == 0 &&
      again.exceptAll(bounds).count() == 0, "sq fit drifted under repartition")
    assert(bounds.count() == Dim)
    val codes = Graft.sqEncode(embTable, "vec_id", "v", bounds, Dim).persist()
    assert(codes.count() == embTable.count(),
      "every usable vector must encode")
    assert(codes.where(size(col("codes")) =!= Dim).count() == 0,
      "codes must be dim-wide")
    // the stored grain is literal int8: the schema carries ByteType
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, false) ||
      codes.schema("codes").dataType.simpleString == "array<tinyint>",
      s"codes must store bytes, got ${codes.schema("codes").dataType}")
    // a non-finite element excludes the WHOLE vector from fit and
    // encode (one inf would poison that dimension's span corpus-wide)
    val poisoned = embTable.unionByName(spark.range(1).select(
      lit(99999L).as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        _ => lit(Double.PositiveInfinity)).as("v")))
    val pb = Graft.sqBounds(poisoned, "vec_id", "v", Dim)
    assert(pb.exceptAll(bounds).count() == 0 &&
      bounds.exceptAll(pb).count() == 0,
      "an inf vector must not move the bounds")
    assert(Graft.sqEncode(poisoned, "vec_id", "v", pb, Dim)
      .where(col("id") === 99999L).count() == 0,
      "an inf vector must not encode")
    // serving: |q·recon − q·v| ≤ Σ|q_d|·span_d/512 (mid-level recon is
    // within half a level of the true value, per dimension)
    val q10 = embTable.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val served = Graft.sqQuery(codes, bounds, q10, "qid", "qv",
      k = embTable.count().toInt, excludeSelf = true)
    val spanArr = bounds.agg(
      transform(array_sort(collect_list(struct(col("d"),
          (col("hi") - col("lo")).as("sp")))),
        t => t.getField("sp")).as("span"))
    val viol = served
      .join(embTable.select(col("vec_id").as("id"), col("v")), "id")
      .join(q10.select(col("qid").as("q_id"), col("qv")), "q_id")
      .crossJoin(broadcast(spanArr))
      .withColumn("truth", call_function("dot_product", col("qv"), col("v")))
      .withColumn("bound", aggregate(
        zip_with(col("qv"), col("span"), (a, b) => abs(a) * b),
        lit(0.0), (acc, x) => acc + x) / lit(512.0) + lit(1e-9))
      .where(abs(col("score") - col("truth")) > col("bound")).count()
    assert(viol == 0, s"$viol served scores broke the half-level error bound")
    // the quantizer ladder: SQ8 spends 64 bytes/vector to PQ m=8's 8 —
    // its true-top-1-in-top-20 recall must dominate flat PQ's on the
    // same corpus (equal corpus, equal queries, both full scans)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val t1 = embTable.crossJoin(broadcast(
        q10.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id")).persist()
    val sq20 = Graft.sqQuery(codes, bounds, q10, "qid", "qv",
      k = 20, excludeSelf = true)
    val pqCodes = Graft.pqEncode(embTable, "vec_id", "v", books)
    val pq20 = Graft.pqQuery(pqCodes, books, q10, "qid", "qv",
      k = 20, excludeSelf = true)
    val hSq = t1.join(sq20.select("q_id", "id"), Seq("q_id", "id")).count()
    val hPq = t1.join(pq20.select("q_id", "id"), Seq("q_id", "id")).count()
    assert(hSq >= hPq,
      s"SQ8 recall ($hSq) fell below flat PQ's ($hPq) at 8x the bits")
    assert(hSq >= 9, s"SQ8 true-NN-in-top-20 fell to $hSq/10 — near-flat " +
      "resolution is the flavor's contract")
    // serving plan: bounds and queries broadcast; the code store never
    // shuffle-joins
    val plan = sq20.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into SQ serving:\n$plan")
    codes.unpersist(); t1.unpersist()
  }

  test("ivf x sq8: flavor refusals, full-probe == flat, planted-NN recall, gate == api") {
    import spark.implicits._
    graft.api.Graft.install(spark)
    // planted-NN corpus: 8 well-separated block clusters of 40 points
    // (deterministic LCG jitter at 0.05), built as anchor/twin PAIRS —
    // each odd id sits 0.002 off its even anchor, ~25x closer than any
    // other cluster mate. The margin is the probe-33 design at spec
    // scale: ABOVE residual-SQ8 quantization noise (residual span
    // ~0.05 -> half-level ~1e-4) but NEAR raw-bounds noise (span ~1.05
    // -> half-level ~2e-3), so the test can see routing failures AND
    // the residual rung's resolution advantage
    val pts = (0 until 8).flatMap { c =>
      (0 until 40).map { j =>
        val id = (c * 40 + j).toLong
        val anchor = (c * 40 + (j & ~1)).toLong
        val v = Seq.tabulate(Dim) { d =>
          val base = if (d / 8 == c) 1.0 else 0.0
          val u = (((anchor * Dim + d) * 1103515245L + 12345L) % 1000L)
            .toDouble / 1000.0
          val twin =
            if (j % 2 == 1)
              0.002 * ((((id * Dim + d) * 48271L + 7L) % 1000L)
                .toDouble / 1000.0)
            else 0.0
          base + 0.05 * u + twin
        }
        (id, v)
      }
    }.toDF("vec_id", "v").persist()
    // ideal block centroids: one per planted cluster, so routing is
    // exact by construction and the test isolates the SQ rung (a
    // fitted kmeansCentroids(k=8) draws 8 hash-random seeds, which
    // split/merge a cluster ~3 times in 4 — routing quality has its
    // own specs; mixing it in here would blur whose failure a red is)
    val cents = (0 until 8).map { c =>
      (c.toLong, Seq.tabulate(Dim)(d => if (d / 8 == c) 1.0 else 0.0))
    }.toDF("cent_id", "cv").persist()
    val rawB = Graft.sqBounds(pts, "vec_id", "v", Dim).persist()
    val resB = Graft.ivfSqBounds(pts, "vec_id", "v",
      cents, "cent_id", "cv", Dim).persist()
    // 1. flavor refusals (the fit_residual discipline): raw bounds
    // into a residual build/serve — and vice versa — fail loudly
    val e1 = intercept[IllegalArgumentException] {
      Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id", "cv",
        rawB, Dim, residual = true)
    }
    assert(e1.getMessage.contains("fit_residual"))
    val e2 = intercept[IllegalArgumentException] {
      Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id", "cv",
        resB, Dim, residual = false)
    }
    assert(e2.getMessage.contains("fit_residual"))
    val rIdx = Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id", "cv",
      resB, Dim, residual = true).persist()
    val q20 = pts.where(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv")).persist()
    val e3 = intercept[IllegalArgumentException] {
      Graft.ivfSqQuery(rIdx, cents, "cent_id", "cv", rawB,
        q20, "qid", "qv", k = 1, nprobe = 1)
    }
    assert(e3.getMessage.contains("fit_residual"))
    // the index marker is checked lazily inside the plan (unmarked
    // bounds skip the eager check; the wrong-flavor index row must
    // still refuse on action, not score garbage)
    val rawIdx = Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id",
      "cv", rawB, Dim, residual = false).persist()
    val lazyBad = intercept[Throwable] {
      Graft.ivfSqQuery(rawIdx, cents, "cent_id", "cv",
        resB.drop("fit_residual"), q20, "qid", "qv",
        k = 1, nprobe = 1, residual = true).collect()
    }
    assert(lazyBad.getMessage != null &&
      lazyBad.getMessage.contains("opposite flavor"))
    // 2. full-probe raw flavor == flat sqQuery exactly (the ivfPqIndex
    // residual=false twin contract, spec-pinned there too)
    val flatCodes = Graft.sqEncode(pts, "vec_id", "v", rawB, Dim)
    val flat = Graft.sqQuery(flatCodes, rawB, q20, "qid", "qv",
      k = 5, excludeSelf = true)
    val fullProbe = Graft.ivfSqQuery(rawIdx, cents, "cent_id", "cv", rawB,
      q20, "qid", "qv", k = 5, nprobe = 8, excludeSelf = true,
      residual = false)
    assert(fullProbe.exceptAll(flat).count() == 0 &&
      flat.exceptAll(fullProbe).count() == 0,
      "full-probe raw IVFxSQ must equal the flat SQ scan exactly")
    // 3. planted-NN recall at the sublinear dial (nprobe=1 of 8): the
    // true top-1 must survive routing + residual quantization, and the
    // composed rung may not fall below the flat SQ scan's recall —
    // residual spans are TIGHTER than raw, that is the rung's point
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val truth = pts.crossJoin(broadcast(
        q20.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(wTop)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id")).persist()
    val nq = q20.count()
    val ivfTop1 = Graft.ivfSqQuery(rIdx, cents, "cent_id", "cv", resB,
      q20, "qid", "qv", k = 1, nprobe = 1, excludeSelf = true)
    val flatTop1 = Graft.sqQuery(flatCodes, rawB, q20, "qid", "qv",
      k = 1, excludeSelf = true)
    val hitsIvf = truth.join(ivfTop1.select("q_id", "id"),
      Seq("q_id", "id")).count()
    val hitsFlat = truth.join(flatTop1.select("q_id", "id"),
      Seq("q_id", "id")).count()
    assert(hitsIvf >= hitsFlat,
      s"IVFxSQ recall ($hitsIvf/$nq) fell below flat SQ ($hitsFlat/$nq) " +
        "— residual quantization must not be coarser than raw")
    assert(hitsIvf >= (nq * 9) / 10,
      s"IVFxSQ planted-NN recall $hitsIvf/$nq below the 0.9 floor")
    // 4. serving plan: centroids/probes/bounds/queries broadcast; the
    // code store never shuffle-joins
    val plan = ivfTop1.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into IVFxSQ serving:\n$plan")
    // 5. gate == api: the gated q_ann_ivf_sq must equal ivfSqQuery
    // over an ivfSqIndex built with the gate's deterministic mod-rule
    // centroids — facade and gate cannot drift (GraftApiSpec's same()
    // contract, pinned here where the fixtures live)
    graft.api.Graft.install(spark)
    val emb = embTable
      .where(call_function("usable_vec", col("v"), lit(Dim)))
      .persist()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val mod = math.max(50L,
      n / math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong))
    val gateCents = emb.where(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val gb = Graft.ivfSqBounds(emb, "vec_id", "v",
      gateCents, "cent_id", "cv", Dim)
    val gIdx = Graft.ivfSqIndex(emb, "vec_id", "v",
      gateCents, "cent_id", "cv", gb, Dim)
    val api = Graft.ivfSqQuery(gIdx, gateCents, "cent_id", "cv", gb,
      emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      "qid", "qv", k = 5, nprobe = 2, excludeSelf = true)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("id").as("vec_id"), col("score"))
    val gate = graft.operators.Similarity.qAnnIvfSq(spark, sf)
    assert(api.exceptAll(gate).count() == 0 &&
      gate.exceptAll(api).count() == 0,
      "ivfSqQuery drifted from the gated q_ann_ivf_sq")
    pts.unpersist(); cents.unpersist(); rawB.unpersist(); resB.unpersist()
    rIdx.unpersist(); rawIdx.unpersist(); q20.unpersist(); truth.unpersist()
    emb.unpersist()
  }

  test("ivf x sq8 PER-CELL bounds: raw refusal, unseen-cell assert, beats global under per-cell offsets, gate == api") {
    import spark.implicits._
    graft.api.Graft.install(spark)
    // the planted anchor/twin corpus of the global-bounds spec
    val pts = (0 until 8).flatMap { c =>
      (0 until 40).map { j =>
        val id = (c * 40 + j).toLong
        val anchor = (c * 40 + (j & ~1)).toLong
        val v = Seq.tabulate(Dim) { d =>
          val base = if (d / 8 == c) 1.0 else 0.0
          val u = (((anchor * Dim + d) * 1103515245L + 12345L) % 1000L)
            .toDouble / 1000.0
          val twin =
            if (j % 2 == 1)
              0.002 * ((((id * Dim + d) * 48271L + 7L) % 1000L)
                .toDouble / 1000.0)
            else 0.0
          base + 0.05 * u + twin
        }
        (id, v)
      }
    }.toDF("vec_id", "v").persist()
    // PER-CELL-OFFSET centroids — the probe-37 mechanism reproduced
    // at spec scale: each cell's centroid is the true block direction
    // at a DIFFERENT scale (the spherical fit's unit-norm bias), so
    // each cell's residuals sit at their own offset. Routing is
    // UNCHANGED (cosine is scale-invariant); only the bounds layout
    // can differ: global min/max must cover every cell's offset
    // (span ~0.5, half-level ~1e-3, at the 0.002 twin margin) while
    // per-cell windows stay at jitter scale (span ~0.05).
    val cents = (0 until 8).map { c =>
      (c.toLong, Seq.tabulate(Dim)(d =>
        if (d / 8 == c) 0.5 + 0.1 * c else 0.0))
    }.toDF("cent_id", "cv").persist()
    val cellB = Graft.ivfSqBoundsPerCell(pts, "vec_id", "v",
      cents, "cent_id", "cv", Dim).persist()
    assert(cellB.select("cell").distinct().count() == 8 &&
      cellB.count() == 8L * Dim, "per-cell bounds are k x dim rows")
    val globalB = Graft.ivfSqBounds(pts, "vec_id", "v",
      cents, "cent_id", "cv", Dim).persist()
    // 1. the raw flavor is refused (no per-cell raw layout exists)
    val e1 = intercept[IllegalArgumentException] {
      Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id", "cv",
        cellB, Dim, residual = false)
    }
    assert(e1.getMessage.contains("PER-CELL"))
    val idxCell = Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id",
      "cv", cellB, Dim).persist()
    val q20 = pts.where(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv")).persist()
    val e2 = intercept[IllegalArgumentException] {
      Graft.ivfSqQuery(idxCell, cents, "cent_id", "cv", cellB,
        q20, "qid", "qv", k = 1, nprobe = 1, residual = false)
    }
    assert(e2.getMessage.contains("PER-CELL"))
    // 2. unseen-cell loud assert: a frozen fit missing a cell must
    // fail the encode, never silently drop the vector
    val bad = intercept[Throwable] {
      Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id", "cv",
        cellB.where(col("cell") =!= 7L), Dim).collect()
    }
    assert(bad.getMessage != null &&
      bad.getMessage.contains("no per-cell bounds row"))
    // 3. under per-cell offsets the per-cell window must beat the
    // global one on the twin margins — and never fall below it
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    val truth = pts.crossJoin(broadcast(
        q20.select(col("qid").as("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dot", call_function("dot_product", col("qv"), col("v")))
      .withColumn("r", row_number().over(wTop)).where(col("r") === 1)
      .select(col("q_id"), col("vec_id").as("id")).persist()
    val nq = q20.count()
    val idxGlobal = Graft.ivfSqIndex(pts, "vec_id", "v", cents, "cent_id",
      "cv", globalB, Dim).persist()
    def recallOf(idx: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long = {
      val top = Graft.ivfSqQuery(idx, cents, "cent_id", "cv", b,
        q20, "qid", "qv", k = 1, nprobe = 1, excludeSelf = true)
      truth.join(top.select("q_id", "id"), Seq("q_id", "id")).count()
    }
    val hitsCell = recallOf(idxCell, cellB)
    val hitsGlobal = recallOf(idxGlobal, globalB)
    assert(hitsCell >= hitsGlobal,
      s"per-cell recall ($hitsCell/$nq) below global ($hitsGlobal/$nq)")
    assert(hitsCell >= (nq * 9) / 10,
      s"per-cell planted-NN recall $hitsCell/$nq below the 0.9 floor")
    // 4. serving plan stays broadcast-only
    val top1 = Graft.ivfSqQuery(idxCell, cents, "cent_id", "cv", cellB,
      q20, "qid", "qv", k = 1, nprobe = 1, excludeSelf = true)
    val plan = top1.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized join crept into per-cell IVFxSQ serving:\n$plan")
    // 5. gate == api on the gate corpus (the #205 drift pin, per-cell)
    graft.api.Graft.install(spark)
    val emb = embTable
      .where(call_function("usable_vec", col("v"), lit(Dim)))
      .persist()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val mod = math.max(50L,
      n / math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong))
    val gateCents = emb.where(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val gb = Graft.ivfSqBoundsPerCell(emb, "vec_id", "v",
      gateCents, "cent_id", "cv", Dim)
    val gIdx = Graft.ivfSqIndex(emb, "vec_id", "v",
      gateCents, "cent_id", "cv", gb, Dim)
    val api = Graft.ivfSqQuery(gIdx, gateCents, "cent_id", "cv", gb,
      emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      "qid", "qv", k = 5, nprobe = 2, excludeSelf = true)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("id").as("vec_id"), col("score"))
    val gate = graft.operators.Similarity.qAnnIvfSqCell(spark, sf)
    assert(api.exceptAll(gate).count() == 0 &&
      gate.exceptAll(api).count() == 0,
      "per-cell ivfSqQuery drifted from the gated q_ann_ivf_sq_cell")
    pts.unpersist(); cents.unpersist(); cellB.unpersist()
    globalB.unpersist(); idxCell.unpersist(); idxGlobal.unpersist()
    q20.unpersist(); truth.unpersist(); emb.unpersist()
  }

  test("q_ann_rerank gate: recall_rerank dominates recall_adc row-wise") {
    val rows = graft.operators.Similarity.qAnnRerankRecall(spark, sf)
      .collect()
    assert(rows.length == 11, "10 gate queries + the total row")
    rows.foreach { r =>
      val (ha, hr) = (r.getLong(1), r.getLong(2))
      assert(hr >= ha,
        s"q_id ${r.getLong(0)}: rerank hits $hr < adc hits $ha — the " +
          "subset guarantee broke")
    }
    // the total row pins the gate's measured lift once: the rerank must
    // actually buy recall on this corpus, not just tie (ADC noise at
    // m=8 is the binding constraint the gate exists to demonstrate)
    val tot = rows.find(_.getLong(0) == -1L).get
    assert(tot.getLong(2) > tot.getLong(1),
      s"rerank bought nothing: adc=${tot.getLong(1)} rerank=${tot.getLong(2)}" +
        s" of ${tot.getLong(3)} — the gate's demonstration regressed")
  }
}
