package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Semantic checks for the dedup family beyond the row-count gates. */
class DedupSpec extends SparkSpec {

  test("exact dedup: canonical is the min doc_id of its group") {
    val df = SparkEntry.queries("q_dedup_exact")(spark, sf)
    assert(df.where(col("canonical_id") > col("doc_id")).count() == 0)
    // group_size is consistent with the number of members
    val bad = df.groupBy("canonical_id").count()
      .join(df.select(col("canonical_id"), col("group_size")).distinct(), "canonical_id")
      .where(col("count") =!= col("group_size")).count()
    assert(bad == 0)
  }

  test("split assignment never separates a dup cluster; a doc-keyed split would") {
    import graft.operators.Corpus.hash31
    // re-derive the per-doc split with #107's formula, then check the
    // actual near-dup pair list: no pair may straddle a split
    val labels = SparkEntry.queries("q_dup_clusters")(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    val assigned = Tables.documents(spark, sf).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("bin",
        pmod(hash31(coalesce(col("cluster_id"), col("doc_id"))), lit(10L)))
    val pairs = SparkEntry.queries("q_dedup_ngram_jaccard_capped")(spark, sf)
      .select("doc_a", "doc_b")
    def leaks(a: org.apache.spark.sql.DataFrame): Long = pairs
      .join(a.select(col("doc_id").as("doc_a"), col("bin").as("bin_a")), "doc_a")
      .join(a.select(col("doc_id").as("doc_b"), col("bin").as("bin_b")), "doc_b")
      .where(col("bin_a") =!= col("bin_b")).count()
    assert(leaks(assigned) == 0L, "a near-dup pair crossed a split boundary")
    // non-vacuous: the naive doc-id-keyed split DOES leak on this corpus
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"), pmod(hash31(col("doc_id")), lit(10L)).as("bin"))
    assert(leaks(naive) > 0L,
      "corpus cannot distinguish cluster-keyed from doc-keyed splits")
    // the readout accounts for every document exactly once
    val out = SparkEntry.queries("q_split_assign")(spark, sf)
    assert(out.agg(sum("n_docs")).head.getLong(0) ==
      Tables.documents(spark, sf).count())
  }

  test("memoized label store == fresh CC refit; overloads == store-backed") {
    // the store path (first call fits + materializes, later calls read
    // parquet) must be row-identical to an uncached fixpoint over the
    // same capped pair graph
    val stored = SparkEntry.queries("q_dup_clusters")(spark, sf)
    val pairs = SparkEntry.queries("q_dedup_ngram_jaccard_capped")(spark, sf)
      .select("doc_a", "doc_b")
    val refit = graft.api.Graft.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component_id").as("cluster_id"),
        col("component_size").as("cluster_size"))
    assert(stored.exceptAll(refit).count() == 0 &&
      refit.exceptAll(stored).count() == 0,
      "label store drifted from a fresh refit")
    // labels-supplying overloads reproduce the store-backed gate queries
    // when handed the refit labels
    val keeperVia = Dedup.qKeeperQuality(spark, sf, refit)
    val keeperGate = SparkEntry.queries("q_keeper_quality")(spark, sf)
    assert(keeperVia.exceptAll(keeperGate).count() == 0 &&
      keeperGate.exceptAll(keeperVia).count() == 0)
    val splitVia = Dedup.qSplitAssign(spark, sf, refit)
    val splitGate = SparkEntry.queries("q_split_assign")(spark, sf)
    assert(splitVia.exceptAll(splitGate).count() == 0 &&
      splitGate.exceptAll(splitVia).count() == 0)
    val histVia = Dedup.dupClusterHistogram(refit)
    val histGate = SparkEntry.queries("q_dup_cluster_histogram")(spark, sf)
    assert(histVia.exceptAll(histGate).count() == 0 &&
      histGate.exceptAll(histVia).count() == 0)
  }

  test("minhash-LSH recovers exactly the exact-jaccard near-dup pairs") {
    // On this corpus the planted near-dups sit at jaccard >= 0.97 with a
    // wide gap to background — 16x4 banding must recover all of them.
    // Since r19 the GATE emits the exact truth + the lsh_found
    // certification flag (its contract); the raw pipeline is asserted
    // against the exact set directly too.
    val gate = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    assert(gate.where(!col("lsh_found")).count() == 0,
      "gate certification flag flipped: LSH missed or over-emitted a pair")
    assert(gate.select("doc_a", "doc_b").exceptAll(exact).count() == 0 &&
      exact.exceptAll(gate.select("doc_a", "doc_b")).count() == 0,
      "gate readout rows are not the exact τ-pair truth")
    val lsh = operators.Dedup
      .minhashLshWithBands(spark, sf, bands = 16, rowsPerBand = 4)
      .select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted a non-near-dup pair")
    assert(exact.exceptAll(lsh).count() == 0, "LSH missed a near-dup pair")
  }

  test("minhash banding dial: any (bands, rows) setting verifies exactly") {
    // the occupancy/recall dial (probe 31: 16x4 buckets grow 14x at
    // x10 mass — at scale rowsPerBand RISES): whatever the dial,
    // exact-Jaccard verification makes every emitted pair a true
    // near-dup, and on this corpus's >=0.97-jaccard planted dups even
    // the selective 8x8 setting (per-band collision s^8) keeps recall
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    Seq((8, 8), (32, 2)).foreach { case (bands, rows) =>
      val dialed = operators.Dedup
        .minhashLshWithBands(spark, sf, bands, rows)
        .select("doc_a", "doc_b")
      assert(dialed.exceptAll(exact).count() == 0,
        s"$bands x $rows emitted a non-near-dup pair")
      assert(exact.exceptAll(dialed).count() == 0,
        s"$bands x $rows missed a planted >=0.97 near-dup")
    }
  }

  test("minhash banding RULE: S-curve algebra holds; the derived dial recovers the pairs") {
    import graft.api.Graft
    // pinned outputs of the two-inequality derivation (VERDICT r16
    // item 3): gate corpus size and the Lee-et-al.-2022 scale
    assert(Graft.minhashBanding(5000L, 0.8) == (52, 14),
      "gate-SF dial drifted from the pinned derivation")
    // the strict default at n=10⁸ prices out above the default maxK —
    // by design: K=33320 IS the cost of ≤1 background candidate per
    // doc at 90% recall; relaxing the candidate budget to 100/doc
    // lands in the published corpus-scale cost class
    assert(Graft.minhashBanding(100000000L, 0.8,
      maxCollisionsPerDoc = 100.0) == (311, 22),
      "corpus-scale dial drifted from the pinned derivation")
    // the returned dial must SATISFY both constraints for a spread of
    // (n, tau, recall) — the algebra, not just two memorized points
    for (n <- Seq(1000L, 1000000L, 1000000000L); tau <- Seq(0.5, 0.8, 0.9);
         rc <- Seq(0.9, 0.99)) {
      // maxK at its Int ceiling: the loop tests the ALGEBRA. At low τ
      // × huge n the UNION-bound answer can honestly exceed even 2³¹
      // slots (τ=0.5, n=10⁹, ≤1 candidate/doc needs K ~ 10¹¹) — LSH
      // is infeasible at that dial and the guard's loud refusal IS
      // the correct output; every affordable dial must satisfy both
      // inequalities
      try {
        val (b, r) = Graft.minhashBanding(n, tau, rc, maxK = Int.MaxValue)
        val s0 = tau / 2
        // the UNION-bound occupancy: candidates per doc across ALL
        // bands (post-review r17 — the first rule form bounded one
        // band and delivered b× the promised budget)
        assert(b * math.pow(s0, r) * n <= 1.0 + 1e-9,
          s"occupancy bound violated at n=$n tau=$tau: b*s0^$r * n = ${b * math.pow(s0, r) * n}")
        assert(1.0 - math.pow(1.0 - math.pow(tau, r), b) >= rc - 1e-9,
          s"recall bound violated at n=$n tau=$tau rc=$rc with (b=$b, r=$r)")
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("maxK"),
            s"unexpected refusal at n=$n tau=$tau rc=$rc: ${e.getMessage}")
          assert(tau <= 0.5 && n >= 1000000000L,
            s"an affordable dial (n=$n tau=$tau rc=$rc) refused: ${e.getMessage}")
      }
    }
    // unaffordable dials refuse loudly instead of silently truncating
    val e = intercept[IllegalArgumentException] {
      Graft.minhashBanding(100000000L, 0.8, recall = 0.99, maxK = 64)
    }
    assert(e.getMessage.contains("maxK"))
    // the derived gate-SF dial runs: exact verification, full recall on
    // the planted >=0.97 near-dups (a third dial point next to the
    // 8x8 / 32x2 rows above — this one is the rule's own output)
    val (b, r) = Graft.minhashBanding(500L, 0.8)
    val dialed = operators.Dedup.minhashLshWithBands(spark, sf, b, r)
      .select("doc_a", "doc_b")
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    assert(dialed.exceptAll(exact).count() == 0,
      s"rule dial ${b}x$r emitted a non-near-dup pair")
    assert(exact.exceptAll(dialed).count() == 0,
      s"rule dial ${b}x$r missed a planted near-dup")
  }

  test("minhashPairs frame facade == the gate's certified pair set at the same dial") {
    // the facade and the gate's LSH side share minhashLshPipelineFrame
    // by construction; this pins the wiring (shingle grain, flavor,
    // verification threshold) so they cannot drift. The gate's rows
    // are the exact truth with every lsh_found TRUE, so its
    // (doc_a, doc_b, jaccard) triples ARE the pipeline's pair set.
    import graft.api.Graft
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val viaFacade = Graft.minhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toSeq).toSeq
    val viaGate = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaGate, "facade drifted from the gate pipeline")
    // the rule's dial feeds straight in
    val (b, r) = Graft.minhashBanding(500L, 0.8)
    assert(Graft.minhashPairs(docs, "doc_id", "text", b, r).count() ==
      viaGate.size.toLong, "rule-dialed facade lost planted pairs")
  }

  test("minhashPairs est_jaccard carries the K=64 binomial error bound") {
    // r19 verdict item 8: the serving facade's est_jaccard is
    // engine-local (xxhash64 signatures the DuckDB oracle cannot
    // reproduce), so its ERROR must be spec-stated instead of
    // oracle-gated. est = matches/K with matches ~ Binomial(K, J)
    // (each of the K = bands*rowsPerBand = 64 minhash coordinates
    // collides with probability exactly J — Broder 1997); for the
    // emitted pairs (J >= 0.8) the binomial sd is
    // sqrt(J(1-J)/64) <= 0.05, so a 5-sigma band of 0.25 holds with
    // per-pair failure probability < 2e-4 by Hoeffding (deterministic
    // here anyway: fixed corpus + fixed seeds), and the mean |err|
    // sits near E|Binomial - mean|/K <= sd ~ 0.04.
    import graft.api.Graft
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val errs = Graft.minhashPairs(docs, "doc_id", "text")
      .select(abs(col("est_jaccard") - col("jaccard")).as("err"))
      .agg(max("err"), avg("err"), count(lit(1))).head
    assert(errs.getLong(2) > 0, "vacuous: no pairs emitted")
    assert(errs.getDouble(0) <= 0.25,
      f"max |est-exact| ${errs.getDouble(0)}%.3f breaches the 5-sigma " +
        "K=64 binomial band (0.25)")
    assert(errs.getDouble(1) <= 0.08,
      f"mean |est-exact| ${errs.getDouble(1)}%.3f is far above the " +
        "K=64 binomial sd (~0.05) — the estimator is biased, not noisy")
  }

  test("gated minhash twin recovers exactly the exact-jaccard pairs too") {
    // the cross-engine poly family must not cost recall on the planted
    // corpus: same invariant as the production xxhash64 flavor
    val lsh = SparkEntry.queries("q_dedup_minhash_gated")(spark, sf)
      .select("doc_a", "doc_b")
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).count() == 0, "gated LSH emitted a non-near-dup pair")
    assert(exact.exceptAll(lsh).count() == 0, "gated LSH missed a near-dup pair")
  }

  test("gated simhash twin: banded path == brute-force all-pairs") {
    val df = SparkEntry.queries("q_dedup_simhash_gated")(spark, sf)
    assert(df.where(col("hamming") > 3 || col("hamming") < 0).count() == 0)
    assert(df.where(col("doc_a") >= col("doc_b")).count() == 0)
    // the banded candidate path must equal BRUTE-FORCE all-pairs over
    // the same signatures — the pigeonhole recall guarantee checked
    // end-to-end on real data (all-pairs is affordable only in a spec;
    // it is also exactly the shape the DuckDB oracle uses)
    graft.api.Graft.install(spark)
    val sigs = Tables.documents(spark, sf)
      .where(expr("exists(split(text, ' '), t -> t <> '')"))
      .select(col("doc_id"), expr("simhash_poly(text)").as("s"))
    val brute = sigs.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      .crossJoin(sigs.select(col("doc_id").as("doc_b"), col("s").as("sb")))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
    assert(brute.count() > 0, "vacuous: corpus has no radius-3 simhash pairs")
    assert(df.exceptAll(brute).count() == 0 && brute.exceptAll(df).count() == 0,
      "banded candidate generation diverged from brute-force all-pairs")
  }

  test("jaccard output is symmetric-free and thresholded") {
    val df = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
    assert(df.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.where(col("jaccard") < 0.8 || col("jaccard") > 1.0).count() == 0)
  }

  test("simhash pairs are within the declared hamming radius; banded == brute for the xx flavor") {
    // the pair-serving form lives on the facade since r19 (the gate is
    // the certification readout); radius + ordering invariants, plus
    // the banded==brute pigeonhole check for THIS signature family
    // (the #189 spec covers the poly flavor; the gate's sig_ok flag
    // covers the expression — this covers the xx pipeline end-to-end)
    val df = graft.api.Graft.simhashPairs(
      Tables.documents(spark, sf), "doc_id", "text")
    assert(df.where(col("hamming") > 3).count() == 0)
    assert(df.where(col("doc_a") >= col("doc_b")).count() == 0)
    graft.api.Graft.install(spark)
    val sigs = Tables.documents(spark, sf)
      .where(expr("exists(split(text, ' '), t -> t <> '')"))
      .select(col("doc_id"), expr("simhash64(text)").as("s"))
    val brute = sigs.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      .crossJoin(sigs.select(col("doc_id").as("doc_b"), col("s").as("sb")))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
    assert(brute.count() > 0, "vacuous: corpus has no radius-3 xx pairs")
    assert(df.exceptAll(brute).count() == 0 && brute.exceptAll(df).count() == 0,
      "xx banded pipeline diverged from brute-force all-pairs")
  }

  test("simhash gate: sig_ok certifies the one-pass expression on every source") {
    val gate = SparkEntry.queries("q_dedup_simhash")(spark, sf)
    assert(gate.where(!col("sig_ok")).count() == 0,
      "one-pass SimHash64 diverged from the compositional reference")
    assert(gate.agg(sum("docs_signed")).head.getLong(0) ==
      Tables.documents(spark, sf)
        .where(expr("exists(split(text, ' '), t -> t <> '')")).count(),
      "signature domain count drifted from the token-bearing doc count")
  }

  test("shingle candidate generation never pairs shingle-disjoint docs") {
    // every reported pair shares at least one shingle → inter >= 1
    val df = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
    assert(df.where(col("inter") < 1).count() == 0)
  }

  test("containment dominates resemblance: every high-jaccard pair appears") {
    // C = |∩|/min ≥ |∩|/union = J for every pair, so any pair at
    // J ≥ 0.9 with a non-trivial overlap (inter ≥ 3 ⟹ n_min ≥ 3)
    // MUST be in the containment output — a mathematical invariant
    // between the two operators, checked on the real corpus
    val jac = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .where(col("jaccard") >= 0.9 && col("inter") >= 3)
      .select("doc_a", "doc_b")
    val cont = SparkEntry.queries("q_dedup_containment")(spark, sf)
      .select("doc_a", "doc_b")
    assert(jac.exceptAll(cont).isEmpty,
      "a high-jaccard pair is missing from containment — C ≥ J violated")
    assert(jac.count() > 0, "vacuous: no pairs at jaccard ≥ 0.9")
  }

  test("capped containment equals uncapped where the cap never binds") {
    // at gate SF no shingle reaches df=64, so the rare-universe sizes
    // equal the full sizes and the two flavors must agree bit-for-bit
    // (the #47 discipline, restated for containment)
    val capped = SparkEntry.queries("q_dedup_containment_capped")(spark, sf)
    val uncapped = SparkEntry.queries("q_dedup_containment")(spark, sf)
    assert(capped.exceptAll(uncapped).isEmpty &&
      uncapped.exceptAll(capped).isEmpty,
      "capped flavor diverged where the df cap cannot bind")
  }

  test("keeper election picks the max-quality member of every cluster") {
    val keepers = SparkEntry.queries("q_keeper_quality")(spark, sf)
    val clusters = SparkEntry.queries("q_dup_clusters")(spark, sf)
    val quality = SparkEntry.queries("q_text_quality")(spark, sf)
      .select(col("doc_id"), col("quality_score"))
    assert(keepers.count() ==
      clusters.select("cluster_id").distinct().count(),
      "exactly one keeper per cluster")
    // the keeper is a member, and no member outscores it
    val joined = clusters.join(quality, "doc_id")
      .join(keepers.select(col("cluster_id"), col("keeper_id"),
        col("keeper_score")), "cluster_id")
    assert(joined.join(clusters.select(col("doc_id").as("keeper_id"),
        col("cluster_id")), Seq("cluster_id", "keeper_id"), "left_anti")
      .isEmpty, "keeper must be a member of its cluster")
    val beaten = joined.where(
      coalesce(col("quality_score"), lit(-1.0)) >
        coalesce(col("keeper_score"), lit(-1.0))).count()
    assert(beaten == 0, s"$beaten members outscore their keeper")
  }

  test("containment catches doc-in-doc inclusion that jaccard misses") {
    import spark.implicits._
    // doc 2 is quoted VERBATIM inside the much longer doc 1: its
    // shingle set is a strict subset of doc 1's, so containment = 1.0
    // while jaccard ≈ |A|/|B| sits far below the 0.8 resemblance τ —
    // the asymmetric case #124 exists for (Broder's containment vs
    // resemblance split). doc 3 is background noise sharing nothing.
    val quoted = "alpha beta gamma delta epsilon zeta"
    val host = ("intro words before the quote begins here " + quoted +
      " and then a long tail of unrelated filler text keeps going " +
      "with many more words to dilute the resemblance far below " +
      "any reasonable jaccard threshold for near duplicate pairs")
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_").toString
    Seq(
      (1L, host, "en", "src1", host.length.toLong),
      (2L, quoted, "en", "src1", quoted.length.toLong),
      (3L, "completely different content about other topics entirely " +
        "nothing shared with either document above at all", "en", "src2", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = SparkEntry.queries("q_dedup_containment")(spark, dir)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"containment must report exactly the quoted pair, got ${cont.toSeq}")
    assert(cont.head._3 == 1.0, "a verbatim quote has containment 1.0")
    val jac = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
    assert(jac.where((col("doc_a") === 1 && col("doc_b") === 2) ||
      (col("doc_a") === 2 && col("doc_b") === 1)).count() == 0,
      "the quoted pair must sit below the jaccard τ for the split to be real")
    // thresholds hold on the real corpus too
    val df = SparkEntry.queries("q_dedup_containment")(spark, sf)
    assert(df.where(col("containment") < 0.9 || col("containment") > 1.0)
      .count() == 0)
    assert(df.where(col("doc_a") >= col("doc_b")).count() == 0)
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sub_").toString
    rows.map { case (id, t) => (id, t, "en", "src1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("substring dedup recovers exactly the planted extents, merged") {
    import spark.implicits._
    // Two shared runs planted VERBATIM in docs 1 and 2, separated by
    // unique filler: X (10 tokens -> 3 overlapping W=8 windows that
    // must MERGE into one extent) and Y (exactly 8 tokens -> a single
    // window). Every boundary-spanning window mixes unique filler and
    // so exists in one doc only. Expected per planted doc: coverage
    // 10 + 8 = 18 tokens in exactly 2 extents.
    val x = (1 to 10).map(i => s"x$i").mkString(" ")
    val y = (1 to 8).map(i => s"y$i").mkString(" ")
    def filler(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> s"${filler("u", 5)} $x ${filler("v", 5)} $y ${filler("w", 5)}",
      2L -> s"${filler("a", 3)} $x ${filler("b", 3)} $y ${filler("c", 3)}",
      3L -> filler("z", 40)))
    val out = SparkEntry.queries("q_dedup_substring")(spark, dir)
      .select("doc_id", "n_tokens", "n_dup_tokens", "n_extents")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 33L, 18L, 2L), (2L, 27L, 18L, 2L),
      (3L, 40L, 0L, 0L)),
      s"planted extents not recovered exactly: ${out.toSeq}")
    // dup_frac follows the coverage
    val frac = SparkEntry.queries("q_dedup_substring")(spark, dir)
      .where(col("doc_id") === 1L).select("dup_frac").as[Double].head()
    assert(math.abs(frac - 18.0 / 33.0) < 1e-6)
  }

  test("substring dedup df-cap: corpus-wide boilerplate does not flag") {
    // The same 8-token run planted in EVERY doc of the corpus, with
    // unique filler around it. At 10 docs (df <= cap) the run flags in
    // all of them; at 70 docs (df = 70 > DfCap = 64) the identical
    // construction flags NOTHING — the boilerplate dial, and the
    // proof it is non-vacuous.
    val z = (1 to 8).map(i => s"z$i").mkString(" ")
    def corpus(n: Int) = writeDocs((0 until n).map { i =>
      (i + 1).toLong -> s"f$i g$i h$i $z p$i q$i r$i"
    })
    val small = SparkEntry.queries("q_dedup_substring")(spark, corpus(10))
    assert(small.where(col("n_dup_tokens") === 8 && col("n_extents") === 1)
      .count() == 10, "below the cap the shared run must flag everywhere")
    val big = SparkEntry.queries("q_dedup_substring")(spark, corpus(70))
    assert(big.where(col("n_dup_tokens") > 0).count() == 0,
      "an over-cap boilerplate window must not flag any document")
  }

  test("line dedup drops cross-doc lines only; trim and within-doc repeats honored") {
    import spark.implicits._
    val shared = "this exact boilerplate line repeats across documents"
    val dir = writeDocs(Seq(
      1L -> s"unique opening line\n$shared\nunique closing line",
      // trailing/leading whitespace must not defeat the match
      2L -> s"different first line\n  $shared  \nanother different line",
      // a line repeated WITHIN one doc is not corpus-duplicated
      // (df counts DISTINCT docs)
      3L -> "repeated inside\nrepeated inside\nits own third line",
      4L -> ""))
    val out = SparkEntry.queries("q_dedup_lines")(spark, dir)
      .select("doc_id", "n_lines", "n_dup_lines", "retained_frac")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val d1 = out(0); val d2 = out(1); val d3 = out(2); val d4 = out(3)
    assert(d1 == (1L, 3L, 1L, Some {
      val kept = "unique opening line".length + "unique closing line".length
      val total = kept + shared.length
      BigDecimal(kept.toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }), s"doc 1 readout wrong: $d1")
    assert(d2._2 == 3L && d2._3 == 1L, s"trimmed match missed: $d2")
    assert(d3 == (3L, 3L, 0L, Some(1.0)),
      s"within-doc repeat must not flag: $d3")
    assert(d4 == (4L, 0L, 0L, None),
      s"empty doc keeps the dirty-record rule: $d4")
    // and on the real corpus every doc survives intact (no newlines,
    // no exact dups at this SF) — the rows-exist sanity
    val real = SparkEntry.queries("q_dedup_lines")(spark, sf)
    assert(real.count() == Tables.documents(spark, sf).count())
    assert(real.where(col("retained_frac") =!= 1.0).count() == 0)
  }

  test("label store: a re-entrant same-key fit fails loudly, never deadlocks") {
    // a fit closure transitively requesting the labels it is itself
    // computing must get an IllegalStateException (review r14: the
    // lock-free rewrite would otherwise park forever on its own
    // FutureTask — an undetectable hang)
    val ex = intercept[IllegalStateException] {
      Dedup.memoizedLabelStore(spark, sf, "reentrant-probe") { _ =>
        Dedup.memoizedLabelStore(spark, sf, "reentrant-probe")(_ => ())
        ()
      }
    }
    assert(ex.getMessage.contains("re-entrant"), ex.getMessage)
    // the poisoned entry was evicted: a sane fit for the same key
    // succeeds afterwards
    val out = Dedup.memoizedLabelStore(spark, sf, "reentrant-probe") { dir =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "ok"))
      ()
    }
    assert(new java.io.File(out, "ok").exists())
  }

  test("winnowing sketch: the (k+w-1, k) guarantee, code-point grain, density") {
    import org.apache.spark.unsafe.types.UTF8String
    val K = Dedup.WinnowK // 16
    val W = Dedup.WinnowW // 16
    def fps(s: String): Set[Long] =
      graft.functions.WinnowFps.compute(UTF8String.fromString(s), K, W)
        .toLongArray().toSet
    // Schleimer et al.'s correctness property: ANY shared substring of
    // length >= k + w - 1 = 31 chars leaves at least one shared
    // fingerprint, whatever surrounds it
    val run = "the quick brown fox jumps over!" // exactly 31 chars
    assert(run.length == K + W - 1)
    assert((fps(s"xxxxyyyyzzzz$run") intersect fps(s"${run}aaabbbcccddd")).nonEmpty,
      "a 31-char shared run must surface a shared fingerprint")
    // below the guarantee floor the sketch is empty by construction
    val g30 = "abcdefghijklmnopqrstuvwxyz0123" // 30 cps: m = 15 < w
    assert(fps(g30.take(K - 1)).isEmpty, "< k code points must sketch empty")
    assert(fps(g30).isEmpty, "k-gram stream shorter than w must sketch empty")
    assert(fps(g30 + "4").size == 1, "exactly one window -> one fingerprint")
    // code-point grain (what the DuckDB oracle hashes): an astral-plane
    // char is ONE position, not a surrogate pair
    assert(fps("💡" + g30).size == 1,
      "astral char must count as a single code point")
    // expected density ~ 2/(w+1) = 2/17 of the k-gram stream on
    // non-repetitive text, loosely bounded
    var x = 88172645463325252L
    val txt = (1 to 2000).map { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % 26) + 'a').toChar
    }.mkString
    val d = fps(txt).size.toDouble / (txt.length - K + 1)
    assert(d > 0.06 && d < 0.24, s"winnow density off the 2/(w+1) expectation: $d")
  }

  test("winnow near-dup gate: thresholded, ordered, and planted copies recovered") {
    import spark.implicits._
    val out = SparkEntry.queries("q_dedup_winnow")(spark, sf)
    assert(out.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(out.where(col("jaccard") < 0.5).count() == 0)
    // planted corpus: exact copy, case/whitespace variant, one-word
    // edit, and an unrelated doc — char-grain winnowing must score the
    // first two at exactly 1.0, catch the edit above tau, and stay
    // silent on the stranger
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventy jugglers balance quartz vases on mossy logs beside " +
      "a winding river that carries old letters toward the sea"
    val dir = writeDocs(Seq(
      1L -> base,
      2L -> base,
      3L -> ("THE QUICK BROWN  FOX " + base.drop(20).toUpperCase),
      4L -> (base.take(80) + "never" + base.drop(85)),
      5L -> ("completely unrelated content about compilers parsing " +
        "abstract syntax trees into intermediate representations")))
    val planted = SparkEntry.queries("q_dedup_winnow")(spark, dir)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(planted.get((1L, 2L)).contains(1.0), s"exact copy not at 1.0: $planted")
    assert(planted.get((1L, 3L)).contains(1.0),
      s"case/whitespace variant must normalize to 1.0: $planted")
    assert(planted.get((1L, 4L)).exists(_ >= 0.5),
      s"one-word edit must stay above tau: $planted")
    assert(!planted.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      s"unrelated doc must not pair: $planted")
  }
}
