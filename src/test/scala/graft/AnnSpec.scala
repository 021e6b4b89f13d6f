package graft

import org.apache.spark.sql.functions._

/** Structural + recall checks for the ANN family. */
class AnnSpec extends SparkSpec {

  test("brute top-k: 5 ranked neighbors per query, descending cosine") {
    val df = SparkEntry.queries("q_ann_cosine_topk")(spark, sf).cache()
    assert(df.count() == 50)
    val perQ = df.groupBy("q_id").agg(count(lit(1)).as("n"),
      max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.where(col("n") =!= 5 || col("mx") =!= 5 || col("mn") =!= 1).count() == 0)
    // within a query, cosine never increases with rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("rank")
    val bad = df.withColumn("prev", lag("cos", 1).over(w))
      .where(col("prev").isNotNull && col("cos") > col("prev")).count()
    assert(bad == 0)
    df.unpersist()
  }

  test("no self-matches in either ANN variant") {
    Seq("q_ann_cosine_topk", "q_ann_ivf").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.where(col("q_id") === col("vec_id")).count() == 0, s"$q self-match")
    }
  }

  test("IVF structure: k results per query, recall floor vs exact baseline") {
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sf).cache()
    assert(ivf.count() == 50)
    assert(ivf.groupBy("q_id").count().where(col("count") =!= 5).count() == 0)
    // nprobe=2 of 10 cells on near-uniform vectors (ANN's worst case):
    // recall is data-bound ~0.46 here; assert a floor that catches
    // regressions (e.g. probing the wrong cells → near-zero overlap).
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select("q_id", "vec_id")
    val hits = ivf.select("q_id", "vec_id").intersect(brute).count()
    assert(hits >= 15, s"IVF recall collapsed: $hits/50 overlap with exact top-k")
    ivf.unpersist()
  }

  test("q_ann_recall gates the spec's own recall number (#170)") {
    // the gated readout must equal the intersection the older spec
    // assertion computes by hand — one definition of recall
    val got = SparkEntry.queries("q_ann_recall")(spark, sf).cache()
    val per = got.where(col("q_id") >= 0)
    assert(per.count() == 10, "one row per probe query")
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select("q_id", "vec_id")
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sf)
      .select("q_id", "vec_id")
    val wantHits = ivf.intersect(brute).count()
    val totalRow = got.where(col("q_id") === -1).collect()
    assert(totalRow.length == 1)
    assert(totalRow(0).getLong(1) == wantHits,
      s"total hits ${totalRow(0).getLong(1)} != manual intersect $wantHits")
    assert(totalRow(0).getLong(2) == 50)
    val mean = totalRow(0).getDouble(3)
    assert(mean == wantHits.toDouble / 50 && mean >= 0.3 && mean <= 1.0)
    got.unpersist()
  }

  test("q_ann_ivf_sq_recall (#208): consistent with manual intersect; SQ8 costs no recall vs raw IVF at equal routing") {
    val got = SparkEntry.queries("q_ann_ivf_sq_recall")(spark, sf).cache()
    assert(got.where(col("q_id") >= 0).count() == 10, "one row per probe query")
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select("q_id", "vec_id")
    val ivfSq = SparkEntry.queries("q_ann_ivf_sq")(spark, sf)
      .select("q_id", "vec_id")
    val wantHits = ivfSq.intersect(brute).count()
    val totalRow = got.where(col("q_id") === -1).collect()
    assert(totalRow.length == 1 && totalRow(0).getLong(1) == wantHits,
      s"total hits ${totalRow(0).getLong(1)} != manual intersect $wantHits")
    // the rung's contract: SQ8's half-level reconstruction noise must
    // not cost recall against the raw-vector IVF scan at the SAME
    // routing (#170, also nprobe=2 on the same cells) — if this ever
    // regresses, the quantizer (not the routing) broke
    val ivfTotal = SparkEntry.queries("q_ann_recall")(spark, sf)
      .where(col("q_id") === -1).collect()(0).getLong(1)
    assert(totalRow(0).getLong(1) >= ivfTotal,
      s"IVFxSQ hits ${totalRow(0).getLong(1)} < raw IVF's $ivfTotal at " +
        "equal routing — SQ8 reconstruction noise became the binding dial")
    got.unpersist()
  }

  test("IVF recall rises monotonically with nprobe and reaches 100% at all cells") {
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select("q_id", "vec_id").cache()
    val total = brute.count()
    val nEmb = Tables.embeddings(spark, sf).count()
    val nCells = Tables.embeddings(spark, sf)
      .where(col("vec_id") %
        graft.operators.Similarity.centroidMod(nEmb) === 0).count().toInt
    val recalls = Seq(1, 2, nCells).map { np =>
      val hits = graft.operators.Similarity.annIvfWithProbes(spark, sf, np)
        .select("q_id", "vec_id").intersect(brute).count()
      np -> hits.toDouble / total
    }
    recalls.sliding(2).foreach { case Seq((npA, rA), (npB, rB)) =>
      assert(rB >= rA, s"recall fell raising nprobe $npA→$npB: $rA → $rB")
    }
    // probing every cell scans the whole corpus — must equal exact top-k
    assert(recalls.last._2 == 1.0,
      s"nprobe=$nCells (all cells) must reproduce the exact baseline: $recalls")
    brute.unpersist()
  }

  test("IVF cosine scores match the exact scores for overlapping pairs") {
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sf)
      .select(col("q_id"), col("vec_id"), col("cos").as("ivf_cos"))
    val brute = SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .select(col("q_id"), col("vec_id"), col("cos").as("b_cos"))
    val bad = ivf.join(brute, Seq("q_id", "vec_id"))
      .where(col("ivf_cos") =!= col("b_cos")).count()
    assert(bad == 0, "cosine computed differently between IVF and brute paths")
  }

  test("crossmodal media tower through the IVF index: recall floor vs the brute gate") {
    // the #158 scale path: the media tower's 8-dim vectors feed the
    // #73 serving index instead of the brute broadcast scan — pin its
    // recall@5 against the hash-gated q_crossmodal_topk baseline
    import graft.operators.Multimodal
    val emb = Multimodal.embedStage(Multimodal.mediaTable(spark, sf)).toDF()
    val vecs = emb.groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("value")))),
        s => s.getField("value")).as("v"))
    val cents = graft.api.Graft.kmeansCentroids(vecs, "doc_id", "v", k = 8)
    val idx = graft.api.Graft.ivfIndex(vecs, "doc_id", "v", cents, "cent_id", "cv")
    val queries = vecs.where(col("doc_id") < 10)
    val got = graft.api.Graft.ivfQuery(idx, cents, "cent_id", "cv",
        queries, "doc_id", "v", k = 5, nprobe = 3, excludeSelf = true)
      .select(col("q_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("q_crossmodal_topk")(spark, sf)
      .select(col("q_id"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6,
      f"crossmodal IVF recall@5 (nprobe=3/8 cells) too low: $recall%.2f")
  }

  test("semantic dedup (#103): deterministic non-empty drop list at the gated dials") {
    val a = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
    val b = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
    assert(a.nonEmpty, "no semantic dups found on the test corpus")
    assert(a.toSeq == b.toSeq, "drop list must be deterministic across runs")
    // schema: (vec_id, cell, dup_of_ct, max_cos); every dropped vector
    // has at least one smaller-id twin at or above the gated tau
    a.foreach { r =>
      assert(r.getLong(2) >= 1L)
      assert(r.getDouble(3) >= 0.45)
    }
  }

  test("semantic dedup: verbatim copies always share a cell and get dropped") {
    // identical vectors have identical centroid cosines, so the argmax
    // cell (ties id-broken) is the same — a verbatim duplicate cannot
    // cross a cell boundary and escape the within-cell pair join
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val copies = base.take(15).map { case (i, v) => (i + 100L, v) }
    val e = (base ++ copies).toDF("vec_id", "v")
    val drops = graft.operators.Similarity
      .semanticDropList(e, k = 4, iters = 2, tau = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    copies.foreach { case (cid, _) =>
      assert(drops.contains(cid), s"verbatim copy $cid escaped the drop list")
    }
    // originals keep: random gaussians have no >=0.9999 twin below them
    base.foreach { case (i, _) =>
      assert(!drops.contains(i), s"original $i wrongly dropped")
    }
  }

  test("semantic dedup finds only true >=tau pairs (subset of brute force)") {
    // cluster-then-prune may MISS cross-cell pairs (the documented
    // recall trade) but must never invent one: every dropped vector
    // must also be droppable under all-pairs exact cosine
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val near = base.take(10).map { case (i, v) =>
      (i + 200L, v.map(x => x + rnd.nextGaussian() * 0.01))
    }
    val e = (base ++ near).toDF("vec_id", "v")
    val tau = 0.98
    graft.api.Graft.install(spark)
    val bruteDrop = e.select(col("vec_id").as("a"), col("v").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("v").as("vb")))
      .where(col("a") < col("b"))
      .withColumn("cos", call_function("cosine_sim",
        col("va").cast("array<double>"), col("vb").cast("array<double>")))
      .where(col("cos") >= tau)
      .select(col("b")).as[Long].collect().toSet
    val drops = graft.operators.Similarity.semanticDropList(e, 4, 2, tau)
      .select("vec_id").as[Long].collect().toSet
    assert(drops.subsetOf(bruteDrop),
      s"false positives vs brute force: ${drops -- bruteDrop}")
    assert(drops.nonEmpty, "planted near-dups not found at all")
  }

  test("semantic dedup cell cap: verbatim copies cannot escape a salted cell") {
    // pathological corpus: every vector points the same way, so the
    // fit hands one runaway cell ~everything (the probe-13 imbalance
    // case the cap exists for). Salting keys on a hash of the VECTOR,
    // so a verbatim copy always lands in its original's salt — the
    // cap may only lose near-dup pairs between DIFFERENT vectors
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (0L until 200L).map { i =>
      (i, Seq.tabulate(8)(d =>
        (if (d == 0) 1.0 else 0.0) + rnd.nextGaussian() * 0.05))
    }
    val copies = base.take(40).map { case (i, v) => (i + 1000L, v) }
    val e = (base ++ copies).toDF("vec_id", "v")
    val drops = graft.operators.Similarity
      .semanticDropList(e, k = 4, iters = 2, tau = 0.9999, maxCell = 50)
      .select("vec_id").as[Long].collect().toSet
    copies.foreach { case (cid, _) =>
      assert(drops.contains(cid), s"verbatim copy $cid escaped under the cap")
    }
    // capping only ever REMOVES pairs: the capped drop set is a
    // subset of the uncapped one
    val uncapped = graft.operators.Similarity
      .semanticDropList(e, k = 4, iters = 2, tau = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    assert(drops.subsetOf(uncapped),
      s"cap invented drops: ${drops -- uncapped}")
  }

  test("semantic dedup: poisoned embeddings never enter the drop list") {
    // zero-norm / NULL / dim-mismatched vectors cosine to NULL (the
    // nasty-embeddings contract), so poison can neither drop a real
    // vector nor be dropped itself — and the pass must not crash
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = (0L until 30L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val dup = Seq((500L, base(5)._2))
    val poison = Seq(
      (600L, Seq.fill(8)(0.0)),                    // zero norm
      (601L, Seq.fill(4)(1.0)),                    // dim mismatch
      (602L, null.asInstanceOf[Seq[Double]]))      // NULL embedding
    val e = (base ++ dup ++ poison).toDF("vec_id", "v")
    val drops = graft.operators.Similarity
      .semanticDropList(e, k = 4, iters = 2, tau = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    assert(drops.contains(500L), "the one real verbatim dup must drop")
    Seq(600L, 601L, 602L).foreach { p =>
      assert(!drops.contains(p), s"poison vector $p entered the drop list")
    }
  }

  test("cell balance partitions the served index; imbalance contracts it exactly") {
    import graft.api.Graft
    val bal = SparkEntry.queries("q_ivf_cell_balance")(spark, sf)
      .localCheckpoint(true)
    // the balance must partition the usable corpus: every clean sf0.01
    // vector is usable, and shares are exact integer ratios summing to 1
    val total = bal.agg(sum("n_vecs")).head.getLong(0)
    assert(total == Tables.embeddings(spark, sf).count(),
      "balance must cover every usable vector exactly once")
    val shareSum = bal.agg(sum("share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    val badShare = bal.where(
      col("share") =!= col("n_vecs").cast("double") / lit(total)).count()
    assert(badShare == 0, "share must be the exact n_vecs/total ratio")
    // the facade contraction on a planted assignment: cells {a:3, b:1}
    // → IF = k·Σ(nᵢ/n)² = 2·(9+1)/16 = 1.25, extremes 1 and 3
    import spark.implicits._
    val planted = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("id", "cell")
    val imb = Graft.ivfImbalance(planted).head
    assert((imb.getLong(0), imb.getLong(1), imb.getLong(2), imb.getLong(3),
      imb.getDouble(4)) == ((2L, 4L, 1L, 3L, 1.25)))
    // and a perfectly balanced assignment scores exactly 1.0
    val even = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("id", "cell")
    assert(Graft.ivfImbalance(even).head.getDouble(4) == 1.0)
    // facade per-cell form equals the gated query on the same frame
    val viaFacade = Graft.ivfCellBalance(
      planted).select("cell", "n_vecs", "share").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaFacade == Set(("a", 3L, 0.75), ("b", 1L, 0.25)))
  }

  test("k-center coreset: coverage radius shrinks, populations cover, greedy step checks out") {
    import graft.api.Graft
    val out = SparkEntry.queries("q_coreset_kcenter")(spark, sf)
      .orderBy("round").collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).distinct.length == 8, "centers must be distinct")
    // the k-center objective: each pick's radius is the coverage
    // radius of the centers before it — non-increasing by construction
    val radii = out.drop(1).map(_.getDouble(3))
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"coverage radius must be non-increasing: ${radii.mkString(", ")}")
    // populations cover the usable corpus exactly once
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.api.Graft.install(spark)
    val usable = e.where(size(col("v")) === 64 &&
      !exists(col("v"), x => x.isNull) &&
      call_function("dot_product", col("v"), col("v")) > 0).count()
    assert(out.map(_.getLong(2)).sum == usable,
      "every usable vector must be assigned to exactly one center")
    // greedy step 1 re-derived independently: the first non-seed center
    // IS the vector farthest (1 - cos) from the seed, ties lowest id
    graft.api.Graft.install(spark)
    val seedV = e.where(col("vec_id") === out(0).getLong(1))
      .select(col("v").as("sv"))
    val far = e.crossJoin(broadcast(seedV))
      .where(col("vec_id") =!= out(0).getLong(1))
      .select(col("vec_id"),
        (lit(1.0) - call_function("cosine_sim", col("v"), col("sv"))).as("d"))
      .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
    assert(far.getLong(0) == out(1).getLong(1) &&
      math.abs(far.getDouble(1) - out(1).getDouble(3)) < 1e-12,
      "round-1 pick must be the farthest point from the seed")
  }

  test("chunkIndex→chunkQuery closes the RAG loop: a stored passage retrieves itself") {
    import graft.api.Graft
    // small corpus slice keeps the eager kmeans fit spec-speed
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull).orderBy("doc_id").limit(200)
      .localCheckpoint(true)
    val (index, cents) = Graft.chunkIndex(
      docs, "doc_id", "text", window = 64, stride = 48,
      kCentroids = 8, iters = 2)
    val idx = index.localCheckpoint(true)
    // the index covers every passage exactly once, at struct identity
    val passages = Graft.chunkPassages(docs, "doc_id", "text", 64, 48)
      .localCheckpoint(true)
    assert(idx.count() == passages.count(), "index must cover all passages")
    assert(idx.select("id").distinct().count() == idx.count())
    assert(cents.count() == 8)
    // queries = three stored passages' own text: the aligned tower
    // embeds them onto their stored vectors, so with ALL cells probed
    // each must come back at rank 1 with cosine ~1 — and the returned
    // coordinates must point at a passage carrying the query's text
    // (not necessarily the same doc: the corpus has verbatim dups)
    val qs = passages.where(col("chunk_id") === 0)
      .orderBy("doc_id").limit(3)
      .select(col("doc_id").as("qd"), col("chunk_text").as("qt"))
      .localCheckpoint(true)
    val hits = Graft.chunkQuery(idx, cents, qs, "qd", "qt",
      k = 1, nprobe = 8)
    assert(hits.count() == 3, "each query must return its top-1")
    assert(hits.where(col("rank") =!= 1 || col("cos") < 0.999999).count() == 0,
      "a stored passage must retrieve at cosine ~1")
    val wrongText = hits
      .join(passages, Seq("doc_id", "chunk_id"))
      .join(qs, col("q_id") === col("qd"))
      .where(col("chunk_text") =!= col("qt"))
    assert(wrongText.count() == 0,
      "retrieved passage must carry the query's text")
    // the boundary contract: a NULL-text query is not silently
    // dropped — it comes back as exactly one all-NULL row (rank NULL
    // marks it; real hits rank >= 1), so a caller joining per q_id
    // can account for every input query
    val withNull = qs.unionByName(
      spark.range(1).select(lit(-7L).as("qd"),
        lit(null).cast("string").as("qt")))
    val hits2 = Graft.chunkQuery(idx, cents, withNull, "qd", "qt",
      k = 1, nprobe = 8).localCheckpoint(true)
    assert(hits2.select("q_id").distinct().count() == 4,
      "every input q_id must appear in the output")
    val nullRow = hits2.where(col("q_id") === -7L)
    assert(nullRow.count() == 1 &&
      nullRow.where(col("rank").isNull && col("cos").isNull).count() == 1,
      "a NULL-text query must surface as one rank-NULL row")
    // …and the same accounting holds for a ZERO-HIT query (review
    // r14: the null-text union alone let an unmatched query vanish) —
    // an empty index retrieves nothing, yet every q_id still reports
    val emptyHits = Graft.chunkQuery(idx.limit(0), cents, withNull,
      "qd", "qt", k = 1, nprobe = 8)
    assert(emptyHits.count() == 4 &&
      emptyHits.where(col("rank").isNotNull).count() == 0,
      "zero-hit queries must come back as rank-NULL rows, one each")
  }
}
