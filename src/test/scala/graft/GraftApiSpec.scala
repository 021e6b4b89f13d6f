package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Graft

/** The DataFrame-in/out facade must agree exactly with the gated
  * queries that bind the same semantics to the test tables — so the
  * user-facing surface and the correctness-gated surface cannot drift.
  */
class GraftApiSpec extends SparkSpec {

  private def same(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$what: facade output differs from the gated query")

  test("text-column APIs take any column name: `body text` gives the rows `text` gives") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    val apis = Seq[(String, (DataFrame, String) => DataFrame)](
      "ngramJaccardPairs" -> ((d, t) => Graft.ngramJaccardPairs(d, "doc_id", t)),
      "shingleIndex" -> ((d, t) => Graft.shingleIndex(d, "doc_id", t)),
      "simhashPairs" -> ((d, t) => Graft.simhashPairs(d, "doc_id", t)),
      "contaminationCheck" -> ((d, t) => graft.streaming.Streams.contaminationCheck(
        d.where(!isBench), d.where(isBench), "doc_id", t)))
    for ((what, api) <- apis) {
      val plain = api(docs, "text")
      val spaced = api(docs.withColumnRenamed("text", "body text"), "body text")
      assert(plain.count() > 0, s"$what: no rows to compare")
      assert(plain.exceptAll(spaced).count() == 0 && spaced.exceptAll(plain).count() == 0,
        s"$what: a column named `body text` changes the rows")
    }
  }

  test("exactDedup reproduces q_dedup_exact") {
    val api = Graft.exactDedup(Tables.documents(spark, sf), "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"), col("canonical_id"),
        col("group_size"), col("is_dup"))
    same(api, SparkEntry.queries("q_dedup_exact")(spark, sf), "exactDedup")
  }

  test("labelPurity reproduces q_knn_label_purity; IVF-composed purity tracks it") {
    val api = Graft.labelPurity(Tables.embeddings(spark, sf),
      "vec_id", "embedding", "label", dim = 64)
    same(api, SparkEntry.queries("q_knn_label_purity")(spark, sf), "labelPurity")
    // the documented scale path: probes through the IVF index give
    // recall-bounded purity — per-label values must track the exact
    // diagnostic closely (nprobe=3 of 10 fitted cells)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .where(size(col("v")) === 64)
    val cents = Graft.kmeansCentroids(e, "vec_id", "v", k = 10)
    val idx = Graft.ivfIndex(e, "vec_id", "v", cents, "cent_id", "cv")
    val probes = e.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("p_id"), col("v").as("pv"))
    val approxNbrs = Graft.ivfQuery(idx, cents, "cent_id", "cv",
      probes, "p_id", "pv", k = 5, nprobe = 3, excludeSelf = true)
    val lbl = e.select(col("vec_id"), col("label"))
    val approxPurity = approxNbrs
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(lbl.select(col("vec_id").as("id"), col("label").as("n_label")), "id")
      .agg((sum(when(col("n_label") === col("q_label"), 1.0).otherwise(0.0)) /
        count(lit(1))).as("p"))
      .head.getDouble(0)
    val exactPurity = api.agg(
      (sum("knn_matches").cast("double") / sum("n_neighbors")).as("p"))
      .head.getDouble(0)
    assert(math.abs(approxPurity - exactPurity) < 0.15,
      f"IVF purity $approxPurity%.3f drifted from exact $exactPurity%.3f")
  }

  test("winnowPairs reproduces q_dedup_winnow") {
    val api = Graft.winnowPairs(Tables.documents(spark, sf), "doc_id", "text")
    same(api, SparkEntry.queries("q_dedup_winnow")(spark, sf), "winnowPairs")
  }

  test("winnowIndex rides the incremental machinery: ingest == batch slice") {
    // the char-grain index reuses the word-shingle store format, so
    // incrementalDedupPairsIndexed applies verbatim — prove the #61
    // contract holds at char grain: pairs from (stored base + arriving
    // delta) equal the full-corpus winnowPairs rows involving a delta
    // doc, on disjoint id ranges
    val docs = Tables.documents(spark, sf)
    val splitId = 400L
    val base = docs.where(col("doc_id") < splitId)
    val delta = docs.where(col("doc_id") >= splitId)
    val inc = Graft.incrementalDedupPairsIndexed(
        Graft.winnowIndex(base, "doc_id", "text"),
        Graft.winnowIndex(delta, "doc_id", "text"),
        tau = 0.5, dfCap = 64)
      .select(col("id_old").as("doc_a"), col("id_new").as("doc_b"),
        col("inter").as("shared"), col("jaccard"))
    val full = Graft.winnowPairs(docs, "doc_id", "text")
      .where(col("doc_b") >= splitId)
    assert(full.count() > 0, "split left no delta-involving pairs to check")
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "incremental winnow ingest drifted from the batch slice")
  }

  test("kcenterCoreset reproduces q_coreset_kcenter") {
    val api = Graft.kcenterCoreset(
      Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", k = 8)
    same(api, SparkEntry.queries("q_coreset_kcenter")(spark, sf),
      "kcenterCoreset")
  }

  test("simhashPairs pair set is consistent with the gate's certified signature domain") {
    // the gate is the certification readout since r19; the facade owns
    // pair serving. Consistency pin: every pair endpoint is a signed
    // doc, and the gate's domain count covers the facade's id universe
    val api = Graft.simhashPairs(Tables.documents(spark, sf), "doc_id", "text")
      .select("doc_a", "doc_b", "hamming")
    val gate = SparkEntry.queries("q_dedup_simhash")(spark, sf)
    assert(gate.where(!col("sig_ok")).count() == 0, "sig_ok flag flipped")
    val signed = gate.agg(sum("docs_signed")).head.getLong(0)
    val endpoints = api.select(col("doc_a").as("d"))
      .union(api.select(col("doc_b").as("d"))).distinct().count()
    assert(endpoints <= signed,
      "facade paired more docs than carry signatures")
    assert(api.where(col("hamming") > 3).count() == 0)
  }

  test("ngramJaccardPairs reproduces both jaccard queries") {
    val docs = Tables.documents(spark, sf)
    val api = Graft.ngramJaccardPairs(docs, "doc_id", "text")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("jaccard"))
    same(api, SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf),
      "ngramJaccardPairs")
    // with the cap, the capped gated query (cap does not bind at sf0.01,
    // but the code path is the capped one)
    val capped = Graft.ngramJaccardPairs(docs, "doc_id", "text", dfCap = 64)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("jaccard"))
    same(capped, SparkEntry.queries("q_dedup_ngram_jaccard_capped")(spark, sf),
      "ngramJaccardPairs(dfCap)")
  }

  test("saltedJoin is exact vs the plain join on a skewed key") {
    import spark.implicits._
    // event_type is the skewed key (a handful of values over the whole
    // table); dim carries one payload row per key
    val ev = Tables.events(spark, sf).select("event_id", "event_type")
    val dim = ev.select("event_type").distinct()
      .withColumn("payload", concat(lit("p_"), col("event_type")))
    val plain = ev.join(dim, Seq("event_type"))
    for (salts <- Seq(1, 8)) {
      val salted = Graft.saltedJoin(ev, dim, "event_type", "event_id", salts)
      same(salted.select("event_id", "event_type", "payload"),
        plain.select("event_id", "event_type", "payload"),
        s"saltedJoin salts=$salts")
    }
  }

  test("rangeJoin matches the naive non-equi join for any bucket width") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // negative domain values and interval spans from 0 to far beyond
    // any bucket width on trial — the fan-out and floor-div edge cases
    // the last two rows are INVERTED (hi < lo): they must match
    // nothing — like the naive join — not explode a descending bucket
    // sequence (one far-inverted corrupt row would otherwise build a
    // huge bucket array)
    val intervals = (Seq.tabulate(60) { i =>
      val lo = rnd.nextLong(2000) - 1000
      (i.toLong, lo, lo + rnd.nextLong(120))
    } ++ Seq((60L, 500L, 400L), (61L, 4000000000000L, 0L))).toDF("iv_id", "lo", "hi")
    val points = Seq.tabulate(300)(i => (i.toLong, rnd.nextLong(2400) - 1200))
      .toDF("pt_id", "p")
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pt_id", "iv_id")
    for (w <- Seq(1L, 3L, 64L, 1000L)) {
      val bucketed = Graft.rangeJoin(points, "p", intervals, "lo", "hi", w)
        .select("pt_id", "iv_id")
      same(bucketed, naive, s"rangeJoin width=$w")
    }
  }

  test("rangeJoin fails fast on an interval wider than the bucket guard") {
    import spark.implicits._
    // a sentinel-hi "open-ended" interval: valid (lo <= hi) but 600k
    // buckets wide — must raise the guard's message, not explode
    val iv = Seq((1L, 0L, 600000000L)).toDF("iv_id", "lo", "hi")
    val pts = Seq((1L, 5L)).toDF("pt_id", "p")
    val e = intercept[Exception] {
      Graft.rangeJoin(pts, "p", iv, "lo", "hi", 1000L).count()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("buckets"), s"unexpected failure: $chain")
    // and the same table passes when the caller raises the guard
    assert(Graft.rangeJoin(pts, "p", iv, "lo", "hi", 1000L,
      maxBucketsPerInterval = 1000000L).count() == 1)
  }

  test("incrementalDedupPairs reproduces q_dedup_incremental") {
    val docs = Tables.documents(spark, sf)
    val isDelta = pmod(col("doc_id"), lit(3L)) === 1L
    val api = Graft.incrementalDedupPairs(
        docs.where(!isDelta), docs.where(isDelta), "doc_id", "text",
        dfCap = 64)
      .select(col("id_new").as("doc_new"), col("id_old").as("doc_old"),
        col("inter"), col("jaccard"))
    same(api, SparkEntry.queries("q_dedup_incremental")(spark, sf),
      "incrementalDedupPairs")
  }

  test("indexed incremental dedup == from-text, through a parquet round-trip") {
    val docs = Tables.documents(spark, sf)
    val isDelta = pmod(col("doc_id"), lit(3L)) === 1L
    val base = docs.where(!isDelta)
    val delta = docs.where(isDelta)
    // the index is a STORED artifact: write the base's index out and
    // read it back, as a real pipeline would between ingests
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    Graft.shingleIndex(base, "doc_id", "text").write
      .mode("overwrite").parquet(s"$dir/base_index")
    val storedBase = spark.read.parquet(s"$dir/base_index")
    val indexed = Graft.incrementalDedupPairsIndexed(
      storedBase, Graft.shingleIndex(delta, "doc_id", "text"), dfCap = 64)
    val fromText = Graft.incrementalDedupPairs(
      base, delta, "doc_id", "text", dfCap = 64)
    same(indexed, fromText, "indexed incremental dedup")

    // and through a BUCKETED catalog table — the production layout:
    // same pairs, and the base side of the plan carries the bucketed
    // scan (no exchange between the base scan and its joins)
    Graft.writeShingleIndex(Graft.shingleIndex(base, "doc_id", "text"),
      "graft_test_base_idx", buckets = 4, overwrite = true)
    val bucketed = Graft.incrementalDedupPairsIndexed(
      spark.table("graft_test_base_idx"),
      Graft.shingleIndex(delta, "doc_id", "text"), dfCap = 64)
    same(bucketed, fromText, "bucketed-index incremental dedup")
    // the eager result is a checkpoint scan; the bucketed-base-scan
    // property lives in the LAZY plan the wrapper materialized —
    // rebuild it via the plan hook (identity = no persists) and assert
    // there
    val plan = graft.operators.Dedup.incrementalPairsStoredPlan(
        spark.table("graft_test_base_idx"),
        Graft.shingleIndex(delta, "doc_id", "text"), 0.8, 64, identity)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"base scan should be bucketed:\n$plan")
    // uncapped stored form (skips the df machinery entirely): pin it
    // against the uncapped from-text twin
    same(
      Graft.incrementalDedupPairsIndexed(
        spark.table("graft_test_base_idx"),
        Graft.shingleIndex(delta, "doc_id", "text")),
      Graft.incrementalDedupPairs(base, delta, "doc_id", "text"),
      "uncapped stored incremental dedup")
  }

  test("incremental containment == batch containment on delta-involving pairs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfTiny)
    val isDelta = pmod(col("doc_id"), lit(3L)) === 1L
    val inc = Graft.incrementalContainmentPairsIndexed(
        Graft.shingleIndex(docs.where(!isDelta), "doc_id", "text"),
        Graft.shingleIndex(docs.where(isDelta), "doc_id", "text"))
      // unordered pair key for the compare (id_new is the delta side)
      .select(least(col("id_new"), col("id_old")).as("doc_a"),
        greatest(col("id_new"), col("id_old")).as("doc_b"),
        col("inter"), col("n_min"), col("containment"))
    val deltaIds = docs.where(isDelta).select(col("doc_id")).as[Long]
      .collect().toSet
    val batch = SparkEntry.queries("q_dedup_containment")(spark, sfTiny)
      .where(col("doc_a").isInCollection(deltaIds) ||
        col("doc_b").isInCollection(deltaIds))
    assert(inc.exceptAll(batch).isEmpty && batch.exceptAll(inc).isEmpty,
      "incremental containment diverged from the batch flavor's " +
        "delta-involving slice")
    assert(inc.count() > 0, "vacuous: no containment pairs involve the delta")
  }

  test("connectedComponents over the jaccard pairs reproduces q_dup_clusters") {
    // the gated query clusters the CAPPED pairs (r4 verdict: the
    // end-to-end dedup path must not contain the uncapped generator);
    // at this SF the cap does not bind, so the uncapped pairs cluster
    // identically — both pins hold
    val pairs = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    val api = Graft.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component_id").as("cluster_id"),
        col("component_size").as("cluster_size"))
    same(api, SparkEntry.queries("q_dup_clusters")(spark, sf),
      "connectedComponents")
    // the star algorithm must label the same graph identically
    val star = Graft.connectedComponents(pairs, "doc_a", "doc_b",
        algorithm = "star")
      .select(col("id").as("doc_id"), col("component_id").as("cluster_id"),
        col("component_size").as("cluster_size"))
    same(star, SparkEntry.queries("q_dup_clusters")(spark, sf),
      "connectedComponents(star)")
  }

  test("connectedComponents converges on string vertex ids") {
    import spark.implicits._
    // a 5-node chain of string ids needs 4 propagation rounds; the r4
    // decimal-sum convergence check cast string labels to NULL, summed
    // to 0, and reported convergence after ONE round — returning
    // under-propagated labels (e → "d"). The changed-flag check is
    // type-generic.
    val edges = Seq(("b", "c"), ("c", "d"), ("d", "e"), ("a", "b"),
      ("x", "y")).toDF("s", "d")
    val got = Graft.connectedComponents(edges, "s", "d")
      .orderBy("id").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "a", 5L), ("b", "a", 5L), ("c", "a", 5L),
      ("d", "a", 5L), ("e", "a", 5L), ("x", "x", 2L), ("y", "x", 2L)))
  }

  test("star CC labels a 200-chain in O(log n) rounds where minlabel throws") {
    import spark.implicits._
    val edges = (1 until 200).map(i => (i.toLong, (i + 1).toLong))
      .toDF("s", "d")
    // the round-budget guard protects the ROUND LOOP — force the big
    // path (the r22 small-graph union-find has no rounds to exceed and
    // labels any diameter in one pass, asserted below)
    spark.conf.set("spark.graft.cc.smallGraphEdges", "1")
    try {
      // diameter 199 ≫ the round budget: minlabel fails LOUDLY…
      intercept[IllegalStateException] {
        Graft.connectedComponents(edges, "s", "d", maxRounds = 8)
      }
      // …while large-star/small-star needs only ~log2(200) rounds
      val got = Graft.connectedComponents(edges, "s", "d", maxRounds = 20,
        algorithm = "star")
      assert(got.count() == 200)
      assert(got.where(col("component_id") =!= 1L
        || col("component_size") =!= 200L).isEmpty)
    } finally spark.conf.unset("spark.graft.cc.smallGraphEdges")
    // the small-graph single-task path: same labels, no round budget
    val small = Graft.connectedComponents(edges, "s", "d", maxRounds = 8)
    assert(small.count() == 200)
    assert(small.where(col("component_id") =!= 1L
      || col("component_size") =!= 200L).isEmpty)
  }

  test("mergeComponents equals full CC over the union edge set") {
    import spark.implicits._
    // seeded random graphs; the new batch draws from twice the base id
    // space so it covers every endpoint class: already-labeled nodes,
    // base-id-space nodes no old edge touched (unlabeled), and brand-new
    // ids — plus chains that merge several old clusters at once
    val rnd = new scala.util.Random(42)
    val n = 300
    val e1 = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val e2 = Seq.fill(120)(
      (rnd.nextInt(2 * n).toLong, rnd.nextInt(2 * n).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val labels = Graft.connectedComponents(e1, "src", "dst")
    val merged = Graft.mergeComponents(labels, e2, "src", "dst")
    val full = Graft.connectedComponents(e1.unionByName(e2), "src", "dst")
    same(merged, full, "mergeComponents")
    // the changed-rows view is exactly the full output minus the rows
    // already present (unchanged) in the prior labeling
    val changed = Graft.mergeComponents(labels, e2, "src", "dst",
      changedOnly = true)
    same(changed, merged.exceptAll(labels), "mergeComponents(changedOnly)")
  }

  test("mergeComponents: batch edges inside existing clusters are a no-op") {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val labels = Graft.connectedComponents(e1, "src", "dst")
    val inside = Seq((1L, 3L), (10L, 11L)).toDF("src", "dst")
    same(Graft.mergeComponents(labels, inside, "src", "dst"), labels,
      "mergeComponents(no-op)")
  }

  test("CC small-graph dial: single-partition rounds label identically (r22)") {
    import spark.implicits._
    // a graph rich enough to need several propagation rounds, plus an
    // isolated pair; run with the dial forced OFF (threshold 1 keeps
    // the 32-partition round shape) and at its default (these edges
    // are far below it → single-partition rounds) — labels, sizes and
    // convergence must be identical, for BOTH algorithms
    val rnd = new scala.util.Random(7)
    // random graph + isolated pair + SELF-LOOP + NULL-endpoint edges
    // (dirty-edge semantics: both loops ignore the union but keep the
    // endpoints as vertices, the null vertex labeling itself null)
    val edges = (Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (java.lang.Long.valueOf(a), java.lang.Long.valueOf(b)) } ++
      Seq((java.lang.Long.valueOf(900L), java.lang.Long.valueOf(901L)),
        (java.lang.Long.valueOf(77L), java.lang.Long.valueOf(77L)),
        (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(950L))))
      .toDF("s", "d")
    def run(alg: String) = Graft.connectedComponents(edges, "s", "d",
      algorithm = alg)
    val conf = spark.conf
    conf.set("spark.graft.cc.smallGraphEdges", "1")
    val (bigMin, bigStar) = try (run("minlabel").collect().toSet,
      run("star").collect().toSet)
    finally conf.unset("spark.graft.cc.smallGraphEdges")
    val smallMin = run("minlabel")
    val smallStar = run("star")
    assert(smallMin.collect().toSet == bigMin, "minlabel small-dial diverged")
    assert(smallStar.collect().toSet == bigStar, "star small-dial diverged")
    // structural pin: the small path's output IS single-partition —
    // the whole fixpoint ran without a round exchange
    assert(smallMin.rdd.getNumPartitions == 1,
      "small-graph minlabel output should be single-partition")
    assert(smallStar.rdd.getNumPartitions == 1,
      "small-graph star output should be single-partition")
    // string ids: the union-find must label under Spark's UTF8String
    // (UTF-8 byte) ordering, pinned against the forced round loop on a
    // graph whose min labels differ between naive UTF-16 and UTF-8
    // orderings (U+FFFD sorts below U+10400 in UTF-16 code units but
    // above it never — both orders agree here; the pin is the loop)
    import spark.implicits._
    val sEdges = (Seq(("b", "c"), ("c", "d"), ("�", "𐐀"),
      ("𐐀", "zz")) ++ Seq.tabulate(30)(i => (s"v$i", s"v${i + 1}")))
      .toDF("s", "d")
    conf.set("spark.graft.cc.smallGraphEdges", "1")
    val bigS = try Graft.connectedComponents(sEdges, "s", "d").collect().toSet
    finally conf.unset("spark.graft.cc.smallGraphEdges")
    assert(Graft.connectedComponents(sEdges, "s", "d").collect().toSet == bigS,
      "string-id small-dial diverged from the round loop")
  }

  test("CC small-graph dial: a malformed or non-positive threshold fails naming key and value") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    Seq("abc", "0", "-1", "5e5", "").foreach { v =>
      spark.conf.set("spark.graft.cc.smallGraphEdges", v)
      val err = try intercept[IllegalArgumentException] {
        Graft.connectedComponents(edges, "s", "d")
      } finally spark.conf.unset("spark.graft.cc.smallGraphEdges")
      assert(err.getMessage.contains("spark.graft.cc.smallGraphEdges") &&
        err.getMessage.contains(s"'$v'"), err.getMessage)
    }
  }

  test("CC small-graph dial: -0.0 and 0.0 are one vertex on both sides of the threshold") {
    import spark.implicits._
    // the loop's joins and distinct normalize -0.0 to 0.0; the
    // union-find must too, or the zeros split into two components
    val edges = Seq((-0.0, 1.0), (0.0, 2.0), (2.0, 3.0), (-1.0, -0.0),
      (5.0, 6.0)).toDF("s", "d")
    def run(alg: String) = Graft.connectedComponents(edges, "s", "d",
      algorithm = alg).as[(Double, Double, Long)].collect().toSet
    val conf = spark.conf
    conf.set("spark.graft.cc.smallGraphEdges", "1")
    val (bigMin, bigStar) = try (run("minlabel"), run("star"))
    finally conf.unset("spark.graft.cc.smallGraphEdges")
    assert(bigMin == bigStar)
    assert(run("minlabel") == bigMin, "minlabel small-dial split the zeros")
    assert(run("star") == bigStar, "star small-dial split the zeros")
    val floats = Seq((-0.0f, 1.0f), (0.0f, 2.0f)).toDF("s", "d")
    def runF() = Graft.connectedComponents(floats, "s", "d")
      .as[(Float, Float, Long)].collect().toSet
    conf.set("spark.graft.cc.smallGraphEdges", "1")
    val bigF = try runF() finally conf.unset("spark.graft.cc.smallGraphEdges")
    assert(runF() == bigF, "float small-dial split the zeros")
    assert(bigF.forall(_._3 == 3L), s"zeros not merged in the loop: $bigF")
  }

  test("cjkWords aggregated reproduces q_keyword_stats_cjk") {
    val api = Graft.cjkWords(Tables.documents(spark, sf), "text", Seq("source"))
      .groupBy("word", "source").agg(count(lit(1)).as("ct"))
    same(api, SparkEntry.queries("q_keyword_stats_cjk")(spark, sf), "cjkWords")
  }

  test("hashSample reproduces q_sample_hash") {
    val api = Graft.hashSample(Tables.documents(spark, sf), "doc_id", 0.10)
      .select("doc_id", "source", "lang")
    same(api, SparkEntry.queries("q_sample_hash")(spark, sf)
      .select("doc_id", "source", "lang"), "hashSample")
  }

  test("mixtureSample reproduces q_sample_weighted and whitelists strata") {
    val docs = Tables.documents(spark, sf)
    val api = Graft.mixtureSample(docs, "doc_id", "source",
      graft.operators.Corpus.MixRatesBp.toMap)
      .select("doc_id", "source", "lang")
    same(api, SparkEntry.queries("q_sample_weighted")(spark, sf)
      .select("doc_id", "source", "lang"), "mixtureSample")
    // a stratum absent from the config is dropped, not kept at 100%
    val partial = Graft.mixtureSample(docs, "doc_id", "source",
      Map("src0" -> 10000L))
    assert(partial.select("source").distinct().collect()
      .map(_.getString(0)).toSet == Set("src0"))
    val err = intercept[IllegalArgumentException] {
      Graft.mixtureSample(docs, "doc_id", "source", Map("src0" -> 10001L))
    }
    assert(err.getMessage.contains("basis points"))
  }

  test("profile reproduces q_profile_orders; approx tracks exact distincts") {
    import org.apache.spark.sql.functions.datediff
    val o = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("o_orderdate_day"),
      col("o_orderpriority"))
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate_day", "o_orderpriority")
    same(Graft.profile(o, cols).orderBy("col_name"),
      SparkEntry.queries("q_profile_orders")(spark, sf), "profile")
    // the HLL flavor must land within 10% of every exact distinct and
    // agree exactly on everything that is not a distinct count
    val exact = Graft.profile(o, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    Graft.profile(o, cols, approx = true).collect().foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(1) == e.getLong(1) && r.getLong(2) == e.getLong(2),
        s"${r.getString(0)}: row/non-null counts must be exact")
      val (ad, ed) = (r.getLong(3).toDouble, e.getLong(3).toDouble)
      assert(math.abs(ad - ed) <= 0.10 * ed,
        s"${r.getString(0)}: approx distinct $ad vs exact $ed")
    }
  }

  test("bpeTokenize facade reproduces the gated q_bpe_tokenize; bpeLearn pins the vocab query") {
    same(Graft.bpeTokenize(Tables.documents(spark, sf)).orderBy("doc_id"),
      SparkEntry.queries("q_bpe_tokenize")(spark, sf), "bpe facade")
    val merges = Graft.bpeLearn(Tables.documents(spark, sf))
    val vocabRows = SparkEntry.queries("q_bpe_vocab")(spark, sf)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == vocabRows, "facade fit != gated merge table")
  }

  test("profile snapshot=true survives a concurrent table rewrite") {
    // the approx flavor scans its source TWICE (decl + HLL split);
    // snapshot=true must pin both scans to the rows present at call
    // time even if an external writer overwrites the table in between
    val dir = java.nio.file.Files.createTempDirectory("graft_prof_").toString
    spark.range(100).selectExpr("id", "id % 7 AS k")
      .write.mode("overwrite").parquet(dir)
    val live = spark.read.parquet(dir)
    val prof = Graft.profile(live, Seq("id", "k"), approx = true,
      snapshot = true) // eager checkpoint happens HERE
    // external rewrite: different row count, different files
    spark.range(5).selectExpr("id", "id % 2 AS k")
      .write.mode("overwrite").parquet(dir)
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("id").getLong(1) == 100 && rows("id").getLong(2) == 100,
      "snapshot profile must describe the pre-rewrite table")
    assert(rows("k").getLong(3) == 7,
      "distincts must come from the snapshotted rows")
  }

  test("saltedDistinct equals the plain per-key distinct") {
    val ev = Tables.events(spark, sf)
    val api = Graft.saltedDistinct(ev, "event_type", "user_id", salts = 8)
    val want = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("distinct_ct"))
    same(api, want, "saltedDistinct")
  }

  test("transitions reproduces q_event_transitions") {
    val api = Graft.transitions(Tables.events(spark, sf),
        "user_id", "ts_us", "event_id", "event_type")
      .select("prev", "event_type", "ct", "p")
    same(api.orderBy("prev", "event_type"),
      SparkEntry.queries("q_event_transitions")(spark, sf), "transitions")
  }

  test("outliers reproduces q_outlier_docs") {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
    val api = Graft.outliers(toks, "n_tokens", "source")
      .select("doc_id", "source", "n_tokens", "lo", "hi")
    same(api, SparkEntry.queries("q_outlier_docs")(spark, sf), "outliers")
  }

  test("hashSample folds high id bits and rejects non-integral ids") {
    import spark.implicits._
    // ids differing by 2^31 must NOT share a keep/drop class (the
    // pre-fold hash aliased them); the fold is the identity below 2^31
    val ids = Seq(1L, 5L, 12345L, (1L << 31) + 1L, (1L << 31) + 5L,
      (1L << 40) + 12345L, -7L).toDF("id")
    val hashed = ids.select(col("id"),
      graft.operators.Corpus.hash31(col("id")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.values.forall(h => h >= 0 && h < (1L << 31)))
    assert(hashed(1L) != hashed((1L << 31) + 1L))
    assert(hashed(5L) != hashed((1L << 31) + 5L))
    assert(hashed(12345L) != hashed((1L << 40) + 12345L))
    // identity below 2^31: matches the plain LCG the oracles pin
    assert(hashed(12345L) == (12345L * 1103515245L) % (1L << 31))
    val err = intercept[IllegalArgumentException] {
      Graft.hashSample(Seq("a").toDF("id"), "id", 0.5)
    }
    assert(err.getMessage.contains("integral"))
  }

  test("contamination reproduces q_contamination") {
    val docs = Tables.documents(spark, sf)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    val api = Graft.contamination(docs.where(!isBench), docs.where(isBench),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_overlap"), col("contaminated"))
    same(api, SparkEntry.queries("q_contamination")(spark, sf), "contamination")
  }

  test("asofJoin reproduces q_asof_join") {
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_us").as("v_ts"))
    val api = Graft.asofJoin(purchases, views, "user_id", "p_ts", "v_ts",
        Seq("view_id", "v_ts"))
      .withColumn("gap_us", col("p_ts") - col("v_ts"))
      .select("purchase_id", "user_id", "p_ts", "view_id", "v_ts", "gap_us")
    same(api, SparkEntry.queries("q_asof_join")(spark, sf), "asofJoin")
  }

  test("sessionize reproduces q_sessionize") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val api = Graft.sessionize(ev, "user_id", "ts_us", 1800L * 1000 * 1000)
      .select(col("user_id"), col("session_seq"), col("session_start_us"),
        col("n_events"), col("duration_us"))
    val want = SparkEntry.queries("q_sessionize")(spark, sf)
    // q_sessionize orders by (ts_us, event_id); the generic orders by
    // ts_us alone — session membership only differs under exact-ts
    // ties ACROSS a gap boundary, absent in the data; compare outputs
    same(api, want, "sessionize")
  }

  test("topKPerGroup reproduces q_topn_per_group") {
    val api = Graft.topKPerGroup(Tables.orders(spark, sf), 3,
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select(col("o_custkey"), col("rank").as("rn"),
        col("o_orderkey"), col("o_totalprice"))
    same(api, SparkEntry.queries("q_topn_per_group")(spark, sf), "topKPerGroup")
  }

  test("facade pair generators leave no cached entries behind") {
    // the VERDICT r8 footgun: staging persists used to outlive the
    // call, leaking storage in long-lived sessions. Now the results
    // are eager (localCheckpoint) and every persist is released in a
    // finally — the session cache must be empty the moment each call
    // returns, with outputs unchanged (pinned by the tests above).
    def cacheEmpty: Boolean =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty
    val docs = Tables.documents(spark, sf)
    val isBase = pmod(col("doc_id"), lit(10L)) =!= 0
    spark.catalog.clearCache()
    Graft.ngramJaccardPairs(docs, "doc_id", "text")
    assert(cacheEmpty, "ngramJaccardPairs leaked cached entries")
    Graft.ngramJaccardPairs(docs, "doc_id", "text", dfCap = 64)
    assert(cacheEmpty, "ngramJaccardPairs(dfCap) leaked cached entries")
    Graft.incrementalDedupPairs(docs.where(isBase), docs.where(!isBase),
      "doc_id", "text")
    assert(cacheEmpty, "incrementalDedupPairs leaked cached entries")
    Graft.incrementalDedupPairsIndexed(
      Graft.shingleIndex(docs.where(isBase), "doc_id", "text"),
      Graft.shingleIndex(docs.where(!isBase), "doc_id", "text"), dfCap = 64)
    assert(cacheEmpty, "incrementalDedupPairsIndexed leaked cached entries")
  }

  test("validateEmbeddings flags exactly the invalid rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0))),            // valid
      (2L, None),                                 // null_vec
      (3L, Some(Seq(1.0, 2.0))),                  // bad_dim (vs 3)
      (4L, Some(Seq(1.0, Double.NaN, 3.0))),      // nan_element
      (5L, Some(Seq(0.0, 0.0, 0.0))),             // zero_norm
      (6L, Some(Seq(0.0, -2.0, 0.0))),            // valid (negative ok)
      (7L, Some(Seq(1.0, Double.PositiveInfinity, 0.0))), // inf_element
      (8L, Some(Seq(1.0, Double.NegativeInfinity, 0.0)))  // inf_element
    ).toDF("id", "vec")
    val got = Graft.validateEmbeddings(rows, "vec", expectedDim = Some(3))
      .select("id", "issue").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "null_vec", 3L -> "bad_dim",
      4L -> "nan_element", 5L -> "zero_norm",
      7L -> "inf_element", 8L -> "inf_element"))
    // without a dim contract the short vector is structurally fine
    val noDim = Graft.validateEmbeddings(rows, "vec")
      .select("id").as[Long].collect().toSet
    assert(noDim == Set(2L, 4L, 5L, 7L, 8L))
    // a NULL array slot (Seq of boxed nulls survives toDF as a
    // nullable-element array) is its own verdict, ahead of NaN
    val withNullElem = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9L, Seq[java.lang.Double](1.0, null, 2.0)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)))))
    assert(Graft.validateEmbeddings(withNullElem, "vec")
      .select("id", "issue").as[(Long, String)].collect().toMap ==
      Map(9L -> "null_element"))
    // a clean corpus certifies empty — the executable "validate
    // upstream" the cosine NULL rule points at
    assert(Graft.validateEmbeddings(
      Tables.embeddings(spark, sf), "embedding").isEmpty)
  }

  test("packAssign aggregates to the gated readout; guards its contract") {
    import spark.implicits._
    // the facade's row-level frame, aggregated, must equal #106 exactly
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        coalesce(size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long"), lit(0L)).as("toks"))
    val agg = Graft.packAssign(docs, "doc_id", "toks", 512L)
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"),
        sum(when(col("is_split"), 1L).otherwise(0L)).as("n_split"))
    val gated = SparkEntry.queries("q_pack_sequences")(spark, sf)
    assert(agg.exceptAll(gated).isEmpty && gated.exceptAll(agg).isEmpty)
    // null token counts pack as 0: they join a pack, shift no boundary
    // (single shard so the id-ordered stream is 300, 0, 300 tokens:
    // doc 3 spans 300..599 and must straddle the 512 cut; the null
    // doc sits at offset 300 in pack 0, splitting nothing)
    val withNull = Seq((1L, Some(300L)), (2L, None), (3L, Some(300L)))
      .toDF("id", "t")
    val r = Graft.packAssign(withNull, "id", "t", 512L, nShards = 1L)
      .select("id", "pack_id", "is_split").as[(Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 0L, false), (2L, 0L, false), (3L, 0L, true)), r)
    // reserved columns and non-integral ids are loud errors
    val e1 = intercept[IllegalArgumentException] {
      Graft.packAssign(Seq((1L, 1L, 0L)).toDF("id", "t", "pack_id"),
        "id", "t", 512L)
    }
    assert(e1.getMessage.contains("pack_id"))
    val e2 = intercept[IllegalArgumentException] {
      Graft.packAssign(Seq(("a", 1L)).toDF("id", "t"), "id", "t", 512L)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("transitions and outliers fail loudly on reserved-column collisions") {
    import spark.implicits._
    val withPrev = Seq((1L, 1L, "a", "x")).toDF("u", "ts", "prev", "state")
    val e1 = intercept[IllegalArgumentException] {
      Graft.transitions(withPrev, "u", "ts", "ts", "state")
    }
    assert(e1.getMessage.contains("prev"))
    val withHi = Seq((1L, "s", 2.0)).toDF("id", "stratum", "hi")
    val e2 = intercept[IllegalArgumentException] {
      Graft.outliers(withHi, "hi", "stratum")
    }
    assert(e2.getMessage.contains("hi"))
  }

  test("corpusDiff classifies added/removed/changed/unchanged; carry prefers new side") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "fa", "s1"), (2L, "fb", "s1"), (3L, "fc", "s2"),
      (4L, null.asInstanceOf[String], "s2")).toDF("id", "fp", "src")
    val newSnap = Seq(
      (2L, "fb", "s1x"), (3L, "fZ", "s2"),
      (4L, null.asInstanceOf[String], "s2"), (5L, "fe", "s3"))
      .toDF("id", "fp", "src")
    val got = Graft.corpusDiff(oldSnap, newSnap, "id", "fp", Seq("src"))
      .orderBy("id")
      .select("id", "status", "src").as[(Long, String, String)].collect()
    assert(got.toSeq == Seq(
      (1L, "removed", "s1"),   // carry falls back to the old side
      (2L, "unchanged", "s1x"), // carry prefers the new side
      (3L, "changed", "s2"),
      (4L, "unchanged", "s2"),  // null fp on both sides: unchanged
      (5L, "added", "s3")))
    // null ids are excluded from the diff entirely
    val withNull = oldSnap.unionAll(
      Seq((null.asInstanceOf[java.lang.Long], "fx", "s9"))
        .toDF("id", "fp", "src").select(
          col("id").cast("long"), col("fp"), col("src")))
    assert(Graft.corpusDiff(withNull, newSnap, "id", "fp").count() == 5)
    // reserved output names guard
    val e = intercept[IllegalArgumentException] {
      Graft.corpusDiff(oldSnap, newSnap, "id", "fp", Seq("status"))
    }
    assert(e.getMessage.contains("status"))
  }

  test("profile survives hostile column names (quotes and backticks)") {
    import spark.implicits._
    val nasty = Seq((1.0, "x"), (2.0, "y"), (2.0, null))
      .toDF("a`b", "c'd; drop")
    val got = Graft.profile(nasty, Seq("a`b", "c'd; drop"))
      .orderBy("col_name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a`b", "c'd; drop"))
    val byName = got.map(r => r.getString(0) -> r).toMap
    assert(byName("a`b").getLong(1) == 3 && byName("a`b").getLong(2) == 3 &&
      byName("a`b").getLong(3) == 2 && byName("a`b").getDouble(4) == 1.0 &&
      byName("a`b").getDouble(5) == 2.0)
    assert(byName("c'd; drop").getLong(2) == 2 &&
      byName("c'd; drop").isNullAt(4))
  }

  test("c4Rules / gopherRules / lineDedup reproduce their gated queries") {
    val docs = Tables.documents(spark, sf)
    same(Graft.c4Rules(docs, "doc_id", "text"),
      SparkEntry.queries("q_c4_rules")(spark, sf), "c4Rules")
    same(Graft.gopherRules(docs, "doc_id", "text"),
      SparkEntry.queries("q_gopher_rules")(spark, sf), "gopherRules")
    same(Graft.lineDedup(docs, "doc_id", "text"),
      SparkEntry.queries("q_dedup_lines")(spark, sf), "lineDedup")
  }

  test("gopherRepetition / sourceOverlap / dsirWeights reproduce their gated queries") {
    val docs = Tables.documents(spark, sf)
    same(Graft.gopherRepetition(docs, "doc_id", "text"),
      SparkEntry.queries("q_gopher_repetition")(spark, sf), "gopherRepetition")
    same(Graft.sourceOverlap(docs, "text", "source"),
      SparkEntry.queries("q_source_overlap")(spark, sf), "sourceOverlap")
    same(Graft.dsirWeights(docs, "doc_id", "text", col("lang") === "en"),
      SparkEntry.queries("q_dsir_weights")(spark, sf), "dsirWeights")
    same(Graft.filterAgreement(docs, "doc_id", "text", "lang"),
      SparkEntry.queries("q_filter_agreement")(spark, sf), "filterAgreement")
  }

  test("lmBuckets reproduces the gated query; a frozen model re-buckets later ingest") {
    val docs = Tables.documents(spark, sf)
    val model = Graft.unigramModel(docs, "text")
    same(Graft.lmBuckets(docs, model, "doc_id", "text", "lang"),
      SparkEntry.queries("q_lm_buckets")(spark, sf), "lmBuckets")
    // frozen-model composition: bucketing a SLICE against the full
    // corpus's model still buckets every scored row (the #130 shape)
    val slice = docs.where(pmod(col("doc_id"), lit(7L)) === 0)
    val out = Graft.lmBuckets(slice, model, "doc_id", "text", "lang")
    assert(out.count() == slice.count())
    assert(out.where(col("avg_logprob").isNotNull && col("bucket").isNull)
      .count() == 0)
  }

  test("mixPlan reproduces the gated query and honors the budget dial") {
    val grain = Tables.documents(spark, sf)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // the gated query counts non-empty tokens; reuse its exact grain
    val exact = Tables.documents(spark, sf)
      .select(col("source"),
        size(org.apache.spark.sql.functions.filter(
          split(col("text"), " "), w => w =!= "")).cast("long").as("n_tokens"))
    same(Graft.mixPlan(exact, "source", "n_tokens", 1L << 20),
      SparkEntry.queries("q_mix_plan")(spark, sf), "mixPlan")
    // doubling the budget doubles every planned draw (±1 from floor)
    val w1 = Graft.mixPlan(grain, "source", "n_tokens", 1L << 20)
      .select("source", "planned_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w2 = Graft.mixPlan(grain, "source", "n_tokens", 1L << 21)
      .select("source", "planned_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    w1.foreach { case (s, p) =>
      assert(math.abs(w2(s) - 2 * p) <= 1, s"budget dial broken for $s")
    }
  }

  test("chunkDedup reproduces q_chunk_dedup") {
    val gated = SparkEntry.queries("q_chunk_dedup")(spark, sf)
    val facade = Graft.chunkDedup(
      Tables.documents(spark, sf), "doc_id", "text", 64, 48)
      .select(gated.columns.map(col): _*)
    same(facade, gated, "chunkDedup")
  }

  test("chunkPassages reproduces q_chunk_passages") {
    val gated = SparkEntry.queries("q_chunk_passages")(spark, sf)
    val facade = Graft.chunkPassages(
      Tables.documents(spark, sf), "doc_id", "text", 64, 48)
      .select(gated.columns.map(col): _*)
    same(facade, gated, "chunkPassages")
    // token-mass conservation against #34's shared token definition:
    // with stride == window every token lands in exactly one chunk
    val blocks = Graft.chunkPassages(
      Tables.documents(spark, sf), "doc_id", "text", 64, 64)
      .agg(sum("n_tokens")).head.getLong(0)
    val mass = SparkEntry.queries("q_token_count")(spark, sf)
      .agg(sum("ws_tokens")).head.getLong(0)
    assert(blocks == mass,
      s"block chunking must conserve token mass: $blocks != $mass")
  }

  test("mixAlpha: facade == gate at the gate dial; alpha=1 is natural; flattening is monotone") {
    val toks = Tables.documents(spark, sf)
      .select(col("source"),
        graft.operators.Text.wsTokenCount.as("n_tokens")).persist()
    // facade at the gate dial reproduces the gated query
    val api = Graft.mixAlpha(toks, "source", "n_tokens", 0.25, 1L << 20)
    same(api.orderBy("source"),
      SparkEntry.queries("q_mix_alpha")(spark, sf), "mixAlpha")
    // alpha = 1 is natural sampling: weight == nat_share and boost == 1
    // for every source with tokens (both are round(t/T, 6) of the same
    // integers)
    val nat = Graft.mixAlpha(toks, "source", "n_tokens", 1.0, 1L << 20)
    assert(nat.where(col("tokens") > 0 &&
      (col("weight") =!= col("nat_share") || col("boost") =!= 1.0))
      .count() == 0, "alpha = 1 must reproduce natural sampling")
    // alpha = 0.5 agrees with the fixed #141 plan on the shared columns
    val viaAlpha = Graft.mixAlpha(toks, "source", "n_tokens", 0.5, 1L << 20)
      .select("source", "docs", "tokens", "weight", "planned_tokens", "epochs")
    val viaPlan = Graft.mixPlan(toks, "source", "n_tokens", 1L << 20)
    assert(viaAlpha.exceptAll(viaPlan).count() == 0 &&
      viaPlan.exceptAll(viaAlpha).count() == 0,
      "mixAlpha(0.5) drifted from the fixed sqrt plan")
    // monotone flattening: lowering alpha never LOWERS the smallest
    // source's weight and never RAISES the largest's (the temperature
    // theorem — weights cross at the geometric middle)
    def wOf(d: org.apache.spark.sql.DataFrame, asc: Boolean) = {
      val o = if (asc) d.orderBy(col("tokens").asc, col("source"))
              else d.orderBy(col("tokens").desc, col("source"))
      val r = o.select("weight").head(); r.getDouble(0)
    }
    val cold = Graft.mixAlpha(toks, "source", "n_tokens", 0.25, 1L << 20)
    assert(wOf(cold, asc = true) >= wOf(viaPlanFull(toks), asc = true) - 1e-9,
      "lower alpha must not shrink the smallest source's weight")
    assert(wOf(cold, asc = false) <= wOf(viaPlanFull(toks), asc = false) + 1e-9,
      "lower alpha must not grow the largest source's weight")
    // dial validation
    val bad = intercept[IllegalArgumentException] {
      Graft.mixAlpha(toks, "source", "n_tokens", 1.5, 1L << 20)
    }
    assert(bad.getMessage.contains("alpha"))
    toks.unpersist()
  }

  private def viaPlanFull(toks: org.apache.spark.sql.DataFrame) =
    Graft.mixAlpha(toks, "source", "n_tokens", 0.5, 1L << 20)

  test("cms: never underestimates, conserves mass, merges additively, exact when wide") {
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).persist()
    val exact = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
      .persist()
    // the GATE dials: width 16 sits BELOW the corpus vocabulary, so
    // collisions provably occur (pigeonhole) — the sketch regime, not
    // a collision-free identity
    val sk = Graft.cmsSketch(words, "word", 4, 16).persist()
    // state is bounded by the dials, not the vocabulary
    assert(sk.count() <= 4L * 16L)
    // the CMS theorem: collisions only ADD, so no estimate ever
    // falls below the true count — checked for EVERY vocabulary term
    val j = Graft.cmsEstimate(sk, exact, "word", 4, 16)
      .join(exact, col("term") === col("word")).persist()
    assert(j.where(col("n_cms") < col("n_exact")).count() == 0,
      "a CMS estimate underestimated — the min-of-counters theorem broke")
    // mass conservation: every depth row's counters sum to N occurrences
    val n = words.count()
    val sums = sk.groupBy("d").agg(sum("n").as("s")).collect()
    assert(sums.length == 4 && sums.forall(_.getLong(1) == n),
      "each hash row must hold every occurrence exactly once")
    // the e/width error shape at the collision dial: ε = e/16 ≈ 0.17,
    // so every overestimate must sit far under εN (near-uniform terms
    // put ~N/16 in a bucket; the min over 4 rows lands well below)
    val maxOver = j.agg(max(col("n_cms") - col("n_exact"))).head.getLong(0)
    assert(maxOver <= n / 5,
      s"max overestimate $maxOver broke the e/width regime (N=$n)")
    // width 1 saturates: every term's every bucket holds ALL N
    // occurrences — the collision-handling identity, exact by theorem
    val sat = Graft.cmsEstimate(Graft.cmsSketch(words, "word", 2, 1),
      exact, "word", 2, 1)
    assert(sat.where(col("n_cms") =!= n).count() == 0,
      "a width-1 sketch must read N for every term")
    // additive merge: sketch(a union b) = sketch(a) + sketch(b)
    // bucket-wise — the distributed-fold/streaming property (the dial
    // markers ride the groupBy: constant within a build)
    val a = words.where(pmod(col("doc_id"), lit(2L)) === 0)
    val b = words.where(pmod(col("doc_id"), lit(2L)) === 1)
    val summed = Graft.cmsSketch(a, "word", 4, 16)
      .unionByName(Graft.cmsSketch(b, "word", 4, 16))
      .groupBy("d", "bucket", "cms_depth", "cms_width")
      .agg(sum("n").as("n"))
      .select("d", "bucket", "n", "cms_depth", "cms_width")
    assert(summed.exceptAll(sk).count() == 0 &&
      sk.exceptAll(summed).count() == 0,
      "CMS must merge additively under any corpus split")
    // dial provenance: estimating at the wrong (depth, width) would
    // silently read the wrong buckets — the marker refuses (the PQ
    // fit_residual discipline)
    val e1 = intercept[IllegalArgumentException] {
      Graft.cmsEstimate(sk, exact, "word", 4, 32)
    }
    assert(e1.getMessage.contains("match the build dials"))
    val e2 = intercept[IllegalArgumentException] {
      Graft.cmsEstimate(sk, exact, "word", 8, 16)
    }
    assert(e2.getMessage.contains("match the build dials"))
    // an EMPTY marked sketch (every doc tokenized to nothing) is valid
    // CMS state, not a dial mismatch: every estimate reads 0
    val emptySk = Graft.cmsSketch(
      words.where(lit(false)), "word", 4, 16)
    val zeros = Graft.cmsEstimate(emptySk, exact, "word", 4, 16)
    assert(zeros.where(col("n_cms") =!= 0L).count() == 0,
      "an empty sketch must estimate 0 for every term")
    // partition invariance
    val shuffled = Graft.cmsSketch(words.repartition(7), "word", 4, 16)
    assert(shuffled.exceptAll(sk).count() == 0 &&
      sk.exceptAll(shuffled).count() == 0,
      "the sketch must be bit-identical under any input partitioning")
    // a collision-free width reads back the exact counts
    val wide = 1 << 21
    val skW = Graft.cmsSketch(words, "word", 2, wide)
    val wrong = Graft.cmsEstimate(skW, exact, "word", 2, wide)
      .join(exact, col("term") === col("word"))
      .where(col("n_cms") =!= col("n_exact")).count()
    assert(wrong == 0, s"$wrong terms misread at collision-free width")
    words.unpersist(); exact.unpersist(); sk.unpersist(); j.unpersist()
  }

  test("cmsDials: (eps, delta) -> (depth, width) math, loud size cap, shuffle fallback") {
    // the published rule: width = ceil(e/eps), depth = ceil(ln(1/delta))
    assert(Graft.cmsDials(0.001, 0.01) == (5, 2719),
      "ceil(ln 100) = 5 rows x ceil(e/0.001) = 2719 buckets")
    assert(Graft.cmsDials(0.5, 0.5) == (1, 6))
    // the loud cap (the minhashBanding convention): eps = 1e-8 prices
    // at ~2.2 GB x depth — far past the default 64 MB, refuse with the
    // relaxation hint rather than silently building an unbroadcastable
    // sketch
    val bad = intercept[IllegalArgumentException] {
      Graft.cmsDials(1e-8, 0.001)
    }
    assert(bad.getMessage.contains("maxBytes") &&
      bad.getMessage.contains("relax eps"))
    // a dials-sized sketch delivers the (eps, delta) contract at a
    // vocabulary scale where the per-term probabilistic bound has
    // mass (the gate corpus has ~31 distinct terms — too few for a
    // delta-fraction claim): 5000 synthetic terms, 10 planted heavy
    // hitters at 250x the light mass. Deterministic hash + fixed
    // corpus make the violator count a constant, not a flake.
    val exact = spark.range(0, 5000)
      .select(concat(lit("t"), col("id")).as("word"),
        when(col("id") < 10, 1000L).otherwise(4L).as("n_exact"))
      .persist()
    val words = exact.select(explode(
      array_repeat(col("word"), col("n_exact").cast("int"))).as("word"))
      .persist()
    val (depth, width) = Graft.cmsDials(0.01, 0.01)
    val sk = Graft.cmsSketch(words, "word", depth, width).persist()
    val n = words.count()
    val vocab = exact.count()
    val overs = Graft.cmsEstimate(sk, exact, "word", depth, width)
      .join(exact, col("term") === col("word"))
      .where(col("n_cms") - col("n_exact") > lit((0.01 * n).toLong))
      .count()
    assert(overs <= math.ceil(0.01 * vocab).toLong,
      s"$overs of $vocab terms broke the eps*N bound at " +
        "cmsDials(0.01, 0.01) — more than the delta fraction allows")
    // past maxBroadcastCounters the estimate falls through to a plain
    // join — same answers, and the FORCED broadcast hint is gone (the
    // planner may still elect broadcast for a small sketch on its own,
    // which is fine — the guard exists so a corpus-vocabulary-sized
    // sketch is never FORCED past the executors' memory). Differential
    // check with auto-broadcast off: the hinted plan still broadcasts,
    // the guarded plan must not.
    val viaShuffle = Graft.cmsEstimate(sk, exact, "word", depth, width,
      maxBroadcastCounters = 0L)
    val viaBroadcast = Graft.cmsEstimate(sk, exact, "word", depth, width)
    assert(viaShuffle.exceptAll(viaBroadcast).count() == 0 &&
      viaBroadcast.exceptAll(viaShuffle).count() == 0,
      "the shuffle fallback changed the estimates")
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val guarded = Graft.cmsEstimate(sk, exact, "word", depth, width,
        maxBroadcastCounters = 0L).queryExecution.executedPlan.toString
      assert(!guarded.contains("BroadcastHashJoin"),
        s"guarded estimate still FORCED a broadcast:\n$guarded")
      val hinted = Graft.cmsEstimate(sk, exact, "word", depth, width)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        "the under-threshold path lost its broadcast hint")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    words.unpersist(); exact.unpersist(); sk.unpersist()
  }

  test("kcenterCoreset: loud maxK cap; greedy picks are prefix-stable past the checkpoint cadence") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the refusal: greedy k-center is k sequential corpus passes with
    // k x dim literal centers — thousands of reps must be an explicit
    // choice (or kmeansCentroids), never a silent day-long plan
    val bad = intercept[IllegalArgumentException] {
      Graft.kcenterCoreset(e, "vec_id", "v", k = 513)
    }
    assert(bad.getMessage.contains("maxK") &&
      bad.getMessage.contains("kmeansCentroids"))
    // k = 33 crosses the lineage-checkpoint cadence (every 32 rounds);
    // greedy selection is prefix-stable, so rounds 0..7 must equal the
    // gate-sized k = 8 run exactly — the checkpoint may not perturb
    // the trajectory
    val k33 = Graft.kcenterCoreset(e, "vec_id", "v", k = 33)
      .select("round", "center_id", "radius").where(col("round") < 8)
    val k8 = Graft.kcenterCoreset(e, "vec_id", "v", k = 8)
      .select("round", "center_id", "radius")
    assert(k33.exceptAll(k8).count() == 0 && k8.exceptAll(k33).count() == 0,
      "the checkpoint cadence perturbed the greedy trajectory")
  }
}
