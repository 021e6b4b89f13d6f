package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The user-facing DataFrame-in / DataFrame-out surface of the engine.
  *
  * The gated queries in [[graft.SparkEntry]] bind these semantics to
  * the test star schema for the correctness harness; this facade
  * exposes the same operators over ARBITRARY frames, so a user of the
  * reference warehouse can point them at their own tables. Each method
  * documents its shuffle budget; `GraftApiSpec` pins each one to the
  * corresponding gated query's output on the test tables, so the two
  * surfaces cannot drift apart.
  *
  * All heavy lifting is declarative DataFrame code — Catalyst sees
  * through the facade exactly as it sees the gated queries (pushdown,
  * AQE join selection, whole-stage codegen all apply unchanged).
  */
object Graft {

  /** Exact content dedup: one row per input row with its content
    * fingerprint, canonical id (min id per fingerprint group), group
    * size, and dup flag. One shuffle on the fingerprint.
    *
    * `fingerprint` defaults to md5 of space-normalized lowercased
    * `textCol` — pass your own Column to change content identity.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String,
      fingerprint: Option[Column] = None): DataFrame = {
    val fp = fingerprint.getOrElse(
      md5(trim(regexp_replace(lower(col(textCol)), " +", " "))))
    val w = Window.partitionBy("fp")
    docs.select(col(idCol).as("id"), fp.as("fp"))
      .withColumn("canonical_id", min("id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_dup", col("id") =!= col("canonical_id"))
  }

  /** Near-duplicate pairs by word-n-gram Jaccard: candidates share at
    * least one (df-capped) shingle; exact Jaccard ≥ tau on candidates
    * only. Two corpus-scale shuffles (shingle-hash candidate join,
    * pair aggregate). `dfCap` bounds per-shingle pair fan-out at
    * dfCap² — set it on corpora with boilerplate (docs/SCALING.md
    * probe 3); `Int.MaxValue` disables it.
    *
    * Similarity is computed over xxhash64'd shingles (the candidate
    * shuffle carries 8-byte keys, not strings); a cross-document
    * 64-bit collision could inflate a pair's intersection, with
    * probability ~2⁻⁶⁴ per pair — negligible below ~2³² DISTINCT
    * shingles (birthday bound).
    *
    * EAGER, like an MLlib fit (and [[kmeansCentroids]]): the pair set
    * is materialized before returning (`localCheckpoint`, memory+disk,
    * lineage truncated — pair output is O(near-dup pairs), far smaller
    * than the corpus) and the staging caches the self-join needs are
    * released in a `finally` — no cached entries outlive the call, so
    * long-lived sessions can invoke it freely without `clearCache()`
    * bookkeeping. At cluster scale, callers keeping pairs around
    * should still write them to a table rather than hold the
    * checkpoint.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8, dfCap: Int = Int.MaxValue): DataFrame = {
    graft.functions.WordShingles.register(docs.sparkSession)
    val sets = docs
      .select(col(idCol).as("id"),
        expr(s"word_shingles($textCol, $n)").as("shingles"))
      .persist()
    var staged: List[DataFrame] = List(sets)
    try {
      val ex0 = sets.select(col("id"), explode(col("shingles")).as("shingle"))
        .select(col("id"), xxhash64(col("shingle")).as("shingle"))
      val ex =
        if (dfCap == Int.MaxValue) ex0
        else {
          val rare = ex0.groupBy("shingle").agg(count(lit(1)).as("df"))
            .where(col("df") <= dfCap).select("shingle")
          val exp = ex0.join(rare, "shingle").persist()
          staged ::= exp
          exp
        }
      val cnt = ex.groupBy("id").agg(count(lit(1)).as("n"))
      val a = ex.select(col("id").as("id_a"), col("shingle"))
      val b = ex.select(col("id").as("id_b"), col("shingle"))
      a.join(b, "shingle")
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(cnt.select(col("id").as("id_a"), col("n").as("na")), "id_a")
        .join(cnt.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .where(col("jaccard") >= tau)
        .select("id_a", "id_b", "inter", "jaccard")
        .localCheckpoint(true)
    } finally staged.foreach(_.unpersist())
  }

  /** Point-in-interval range join WITHOUT an equi key: each `points`
    * row pairs with every `intervals` row whose `[loCol, hiCol]`
    * (inclusive) contains its `pointCol`. All three columns must be
    * integral (quantize timestamps/dates to a unit first).
    *
    * Spark plans a bare non-equi join as BroadcastNestedLoopJoin or
    * CartesianProduct — fine only while one side broadcasts. This is
    * the standard bucketed reformulation: the domain splits into
    * `bucketWidth`-sized buckets, each interval explodes to the
    * buckets it overlaps (fan-out = span/width + 1 — pick the width
    * near the TYPICAL interval span so it stays O(1)), each point maps
    * to its one containing bucket, and the join becomes an EQUI join
    * on the bucket id plus the exact bounds as a residual filter —
    * shuffle-partitionable with both sides large. Each (point,
    * interval) pair meets in exactly one bucket (the point's), so the
    * output needs no dedup. Floor-division is exact integer math
    * (`(x − pmod(x, w)) div w` — `div`, not `/`, which casts through
    * a double and rounds above 2⁵³), correct for negative values too.
    * Inverted intervals (`hi < lo`) match NOTHING — the naive
    * non-equi semantics — instead of exploding the descending bucket
    * sequence `sequence(lo', hi')` would otherwise produce.
    *
    * `maxBucketsPerInterval` guards the other blowup shape: a VALID
    * but huge interval (an open-ended window encoded with a far-future
    * sentinel hi, or timestamps quantized finer than intended)
    * explodes to span/width buckets — millions of rows per sentinel,
    * or an over-max-array-length failure deep in the job. The guard
    * fails FAST with an actionable message instead; raise it (and the
    * bucket width) deliberately for genuinely wide interval tables.
    */
  def rangeJoin(points: DataFrame, pointCol: String, intervals: DataFrame,
      loCol: String, hiCol: String, bucketWidth: Long,
      maxBucketsPerInterval: Long = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0,
      s"maxBucketsPerInterval must be positive, got $maxBucketsPerInterval")
    def fdiv(name: String): Column =
      expr(s"(`$name` - pmod(`$name`, ${bucketWidth}L)) div ${bucketWidth}L")
    val pt = points.withColumn("_bucket", fdiv(pointCol))
    // assert_true rides inside the sequence operand so the guard can't
    // be pruned: it is NULL (a no-op) on every in-bound row and raises
    // on the first too-wide one
    val spanOk = assert_true(
      fdiv(hiCol) - fdiv(loCol) < lit(maxBucketsPerInterval),
      lit(s"rangeJoin: an interval spans >= $maxBucketsPerInterval buckets " +
        s"at bucketWidth=$bucketWidth; widen bucketWidth, clean sentinel " +
        "hi values, or raise maxBucketsPerInterval deliberately"))
    val iv = intervals
      .where(col(loCol) <= col(hiCol))
      .withColumn("_bucket",
        explode(sequence(fdiv(loCol), when(spanOk.isNull, fdiv(hiCol)))))
    pt.join(iv, Seq("_bucket"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bucket")
  }

  /** Incremental near-dup dedup: pairs a NEW batch (`delta`) against
    * an existing corpus (`base`) plus earlier-id delta docs — never
    * base against itself. Output: (id_new, id_old, inter, jaccard) at
    * Jaccard ≥ tau over the (optionally df-capped) shingle vocabulary.
    * Candidate volume is linear in |delta| at steady state — the shape
    * a continuously-fed corpus runs instead of re-pairing everything
    * (see the gated `q_dedup_incremental`). Same caching caveat as
    * [[ngramJaccardPairs]].
    */
  def incrementalDedupPairs(base: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.8,
      dfCap: Int = Int.MaxValue): DataFrame = {
    val flagged = base.select(col(idCol), col(textCol))
      .withColumn("_is_delta", lit(false))
      .unionByName(delta.select(col(idCol), col(textCol))
        .withColumn("_is_delta", lit(true)))
    graft.operators.Dedup.incrementalJaccard(flagged, idCol, textCol,
      "_is_delta", n, tau, dfCap)
  }

  /** Near-dup pairs over ANY 64-bit signature column at Hamming
    * radius ≤ `maxDist` — the banded machinery the gated text simhash
    * (#28) and image average-hash (#157) both ride, exposed for a
    * caller's own signatures (an audio fingerprint, a custom sketch):
    * 7-chunk/4-subset candidate keys (perfect recall at radius 3 by
    * pigeonhole, collision-safe ~37-bit key space at any corpus
    * size), exact bit_count verification on deduplicated candidates
    * only. Output (doc_a, doc_b, hamming), doc_a < doc_b.
    */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 3): DataFrame =
    graft.operators.Dedup.hammingNearDupPairs(sig, idCol, sigCol, maxDist)

  /** SimHash near-dup pairs over YOUR documents — signature
    * computation (the codegen'd one-pass `simhash64`, no token
    * explode) composed with [[hammingPairs]]; token-less docs carry
    * no signature, the gated #28 contract. Spec-pinned identical to
    * `q_dedup_simhash` on the gate corpus.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    val quoted = "`" + textCol.replace("`", "``") + "`"
    hammingPairs(
      docs.where(expr(s"exists(split($quoted, ' '), t -> t <> '')"))
        .select(col(idCol), expr(s"simhash64($quoted)").as("_sig")),
      idCol, "_sig", maxDist)
  }

  /** Embedding-space label purity over YOUR labeled vectors — the
    * #161 diagnostic generalized: for the deterministic probe sample
    * `id % sampleMod == 0`, the fraction of each probe's k exact
    * cosine nearest neighbors (self excluded) sharing the probe's
    * label, per label. Usable-vector filtering (declared dim, no null
    * elements, positive norm — the [[validateEmbeddings]] convention)
    * happens here, so poisoned vectors never enter the ranking. The
    * probe side broadcasts into a linear corpus scan; cost is
    * n²·k/sampleMod — lower the dial at scale, or run the probes
    * through [[ivfQuery]] for recall-bounded purity (the exact/approx
    * pairing AnnSpec pins).
    */
  def labelPurity(embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int, k: Int = 5,
      sampleMod: Long = 10L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(sampleMod > 0, s"sampleMod must be positive, got $sampleMod")
    graft.functions.CosineSimilarity.register(embeddings.sparkSession)
    val e = embeddings
      .select(col(idCol).as("_id"), col(labelCol).as("_label"),
        col(vecCol).cast("array<double>").as("_v"))
      .where(size(col("_v")) === dim &&
        !exists(col("_v"), x => x.isNull) &&
        aggregate(transform(col("_v"), x => x * x),
          lit(0.0), (acc, x) => acc + x) > 0)
    val q = e.where(pmod(col("_id"), lit(sampleMod)) === 0)
      .select(col("_id").as("_qid"), col("_label").as("_qlabel"),
        col("_v").as("_qv"))
    val w = Window.partitionBy("_qid").orderBy(col("_cos").desc, col("_id"))
    e.crossJoin(broadcast(q))
      .where(col("_id") =!= col("_qid"))
      .withColumn("_cos", call_function("cosine_sim", col("_qv"), col("_v")))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .groupBy(col("_qlabel").as("label"))
      .agg(
        countDistinct(col("_qid")).as("n_probes"),
        count(lit(1)).as("n_neighbors"),
        sum(when(col("_label") === col("_qlabel"), 1L).otherwise(0L))
          .as("knn_matches"))
      .select(col("label"), col("n_probes"), col("n_neighbors"),
        col("knn_matches"),
        (col("knn_matches").cast("double") / col("n_neighbors"))
          .as("purity"))
      .orderBy("label")
  }

  /** The persistable shingle index for
    * [[incrementalDedupPairsIndexed]]: one (id, shingle) row per
    * distinct word-n-gram of each doc, shingles xxhash64'd to 8-byte
    * keys. Write the base corpus's index out ONCE (ideally bucketed —
    * [[writeShingleIndex]]); per ingest, build only the delta's index,
    * pair it against the stored base, and append it. Probe 9
    * (docs/SCALING.md) measured that the shingling CPU itself is NOT
    * what the index saves (a raw index scan costs the same as
    * re-shingling) — the savings are the plan shape the stored form
    * unlocks: no corpus-sized cache, no corpus groupBy, and with
    * bucketing no base-side shuffle.
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // fused shingle+hash generator (r21): same longs as
    // explode(word_shingles) -> xxhash64, one codegen'd pass, no
    // per-shingle string column through the generator
    graft.functions.WordShingleHashes.register(docs.sparkSession)
    docs
      .select(col(idCol).as("id"),
        explode(expr(s"word_shingle_hashes($textCol, $n)")).as("shingle"))
  }

  /** Writes a [[shingleIndex]] frame as a parquet table BUCKETED by
    * shingle — the storage layout that makes the steady-state ingest
    * plan exchange-free on the base side: a bucketed scan already
    * satisfies the hash distribution the df aggregate and the
    * candidate join require, so per ingest only the (small) delta
    * shuffles, never the corpus. Append each ingest's delta index
    * after pairing (`overwrite = false`, the default) and the table
    * stays the full corpus index. Default 32 buckets to match the
    * recommended `spark.sql.shuffle.partitions`; at cluster scale set
    * buckets so one bucket's shingle rows fit an executor's working
    * memory (buckets ≈ index rows × 16 B / 256 MB).
    */
  def writeShingleIndex(index: DataFrame, table: String,
      buckets: Int = 32, overwrite: Boolean = false): Unit =
    index.write.mode(if (overwrite) "overwrite" else "append")
      .bucketBy(buckets, "shingle").sortBy("shingle")
      .format("parquet").saveAsTable(table)

  /** [[incrementalDedupPairs]] over PRE-BUILT shingle indexes (see
    * [[shingleIndex]] / [[writeShingleIndex]]) — the steady-state
    * form: the base side is a stored table scan, so per-ingest cost is
    * the candidate join + verification, linear in the batch. Same
    * output columns and semantics as the from-text form (spec-pinned
    * equal, including through a bucketed-table round-trip); the df cap
    * is computed over base+delta together, exactly as from text. Base
    * and delta id sets must be disjoint (a re-ingested id would pair
    * with itself). Unlike the from-text form this never caches or
    * re-groups the corpus-sized side — see
    * [[graft.operators.Dedup.incrementalPairsStored]] for the plan
    * shape — so it is the variant to use when the base index no longer
    * fits executor storage memory.
    */
  def incrementalDedupPairsIndexed(baseIndex: DataFrame,
      deltaIndex: DataFrame, tau: Double = 0.8,
      dfCap: Int = Int.MaxValue): DataFrame =
    graft.operators.Dedup.incrementalPairsStored(baseIndex, deltaIndex,
      tau, dfCap)

  /** Ingest-time CONTAINMENT (#132) — "is this arriving doc a quote
    * of something already stored": [[incrementalDedupPairsIndexed]]'s
    * candidate machinery (delta-vs-stored-index join, O(batch)
    * shuffles, base side exchange-free off a bucketed
    * [[writeShingleIndex]] table, df-cappable) with the #124
    * containment acceptance instead of resemblance — min-side
    * coverage ≥ 0.9, cross-multiplied, short sets guarded. Catches
    * the partial-dup ingest Jaccard structurally misses: a tweet
    * quoted inside an arriving article fires here at C = 1.0 while
    * its resemblance is ≈ 0. Spec-pinned equal to the batch
    * [[graft.operators.Dedup.qDedupContainment]] restricted to
    * delta-involving pairs.
    */
  def incrementalContainmentPairsIndexed(baseIndex: DataFrame,
      deltaIndex: DataFrame, dfCap: Int = Int.MaxValue): DataFrame =
    graft.operators.Dedup.incrementalPairsStored(baseIndex, deltaIndex,
      tau = 0.0, dfCap, containment = true)

  /** Centroid ceiling for [[ivfIndex]]'s collected argmax literal.
    * The literal ships inside the task binary and JAVA-DESERIALIZES
    * INTO EVERY TASK'S HEAP as boxed nested arrays (probe 41 measured
    * the cliff: ~41k×64 doubles OOMed 32 concurrent tasks at 8 GB,
    * while 4096×64 served comfortably) — so the default stops at
    * 2^14 = 16384 rows (~8 MB raw at dim 64, proven headroom), NOT at
    * what the wire could carry. Past it, shard the corpus and merge
    * per-shard indexes, or raise maxCentroids explicitly with
    * per-task heap sized for k×dim boxed copies. */
  val MaxBroadcastCentroids: Int = 1 << 14

  /** The dim basis [[MaxBroadcastCentroids]]'s probe-41 numbers were
    * measured at. The per-task-heap hazard a collected argmax literal
    * carries scales with rows × dim ELEMENTS, not rows (ADVICE r20: a
    * row cap alone admits 8-16× the measured OOM mass at embedding
    * dims 512-1024), so [[requireLiteralElems]] budgets
    * `maxRows × 64` elements — at dim 64 exactly the historical row
    * cap, at dim 1024 a 16×-smaller row count refusing at the SAME
    * heap mass. Probe 41's cliff: ~2.6M boxed doubles per task (41k
    * rows × 64, 32 tasks, 8 GB heap); 262k comfortable. Raising the
    * row dial raises the element budget proportionally — the explicit
    * escape stays, now scaled honestly. */
  private[graft] val LiteralBasisDim: Int = 64

  /** Loud elements guard for every collected k-bounded literal that
    * java-deserializes into each task's heap (see
    * [[MaxBroadcastCentroids]] / [[LiteralBasisDim]]). Budgets the
    * SUMMED element count across collected rows (ADVICE r21: rows ×
    * max-dim let one anomalously wide or dim-mismatched row inflate
    * the product and refuse a fit whose true heap mass was in budget —
    * in tension with the documented dirty-rows-rank-out-at-scoring
    * tolerance). `remediation` is the caller's OWN escape hatch, so a
    * dial-less API never tells its user to raise a dial it does not
    * have (ADVICE r21). */
  private[graft] def requireLiteralElems(elems: Long, rows: Int,
      maxRows: Int, caller: String, remediation: String): Unit = {
    val budget = maxRows.toLong * LiteralBasisDim
    require(elems <= budget,
      s"$caller: the collected literal would carry $elems vector " +
        s"elements across $rows rows — past the $budget-element " +
        s"per-task budget ($maxRows rows at the dim-$LiteralBasisDim " +
        "probe-41 basis; the literal deserializes into EVERY task's " +
        "heap as boxed doubles, and the measured OOM cliff is ~2.6M " +
        "elements at 32 tasks x 8 GB). Shard the corpus and merge " +
        s"per-shard fits/indexes, reduce k or the embedding dim, or $remediation")
  }

  /** Build an IVF (inverted-file) ANN index: every vector assigned to
    * its nearest centroid by cosine (ties → lowest centroid id;
    * centroid ids must be numeric). Returns `(id, cell, vec)` —
    * the stored form queries probe ([[ivfQuery]]) so the corpus is
    * assigned ONCE, not per query batch. Assignment never shuffles
    * the corpus: the k-bounded centroid frame collects ONCE (loud
    * [[MaxBroadcastCentroids]] cap; it broadcast whole before anyway)
    * into a single array literal, and each row argmaxes
    * (cosine, −cent_id) structs via zip_with + array_max INSIDE the
    * projection — whole-stage codegen, zero exchanges. (r20: the
    * previous crossJoin + groupBy(id) shape claimed map-side
    * combinability, but ids are unique so the partial aggregation
    * contracted nothing and every index build re-shuffled all n
    * (id, vec, cell) rows.) Every input row gets an index row —
    * including null-id rows, which the old groupBy silently merged.
    */
  def ivfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      maxCentroids: Int = MaxBroadcastCentroids): DataFrame =
    ivfAssigned(embeddings, idCol, vecCol, centroids, centIdCol,
      centVecCol, maxCentroids, "ivfIndex", withResidual = false)

  /** The shared assignment core of [[ivfIndex]]/[[ivfResiduals]]:
    * collect the k-bounded centroid frame once (loud cap), then ONE
    * map-side projection where each row argmaxes
    * (cosine, −cent_id, index) structs over the centroid literal —
    * max_by's exact ordering (ids negated-as-long, order-preserving
    * for any INTEGRAL id type — the [[row2long]] contract; floating/
    * decimal centroid ids refuse loudly rather than silently reorder,
    * and a Long.MinValue id would overflow the negation, as it did in
    * the historical max_by shape — ADVICE r20. The emitted cell casts
    * back to the caller's cent_id type). The struct array is deliberately
    * UNFILTERED: array_max and max_by share the nulls-first struct
    * ordering, so a dirty vector (every cosine NULL) still lands in
    * the lowest-cent_id cell exactly like the historical max_by —
    * the index carries EVERY row (spec-pinned); dirty rows rank out
    * at scoring, never at build. Every row votes for itself,
    * null-id rows included (the historical groupBy(id) silently
    * MERGED them into one index row; ids are unique by contract).
    * The winning centroid's array INDEX rides the struct, so the
    * residual computes in the SAME projection — no centroid re-join
    * (which, besides costing a join, tripped Spark's constraint
    * machinery on the higher-order-function join key: probe 41's
    * k = 4096 `ATTRIBUTE_NOT_FOUND` crash).
    */
  private def ivfAssigned(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String, maxCentroids: Int, caller: String,
      withResidual: Boolean): DataFrame = {
    require(maxCentroids > 0, s"$caller: maxCentroids must be positive")
    graft.functions.CosineSimilarity.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).cast("array<double>").as("cv"))
    val centRows = c.limit(maxCentroids + 1).collect()
    require(centRows.length <= maxCentroids,
      s"$caller: more than maxCentroids = $maxCentroids centroids — " +
        "the argmax literal is k×dim doubles shipped with every task " +
        "binary; shard the corpus and merge per-shard indexes, or pass " +
        "a larger maxCentroids to accept the plan size explicitly")
    val centIdType = c.schema("cent_id").dataType
    val resCols = if (withResidual) Seq("rvec") else Nil
    // no centroids → no index (the historical empty-crossJoin shape)
    if (centRows.isEmpty)
      return e.where(lit(false))
        .select(Seq(col("id"), lit(null).cast(centIdType).as("cell"),
          col("vec")) ++ resCols.map(col("vec").as(_)): _*)
    // the heap hazard is the literal's total element mass: budget the
    // SUM of per-row vector lengths (ADVICE r21 — a single dirty wide
    // row must not inflate a rows × max-dim product past the budget
    // when the true mass is fine; dirty rows rank out at scoring,
    // never at build)
    requireLiteralElems(
      centRows.iterator.map(r =>
        Option(r.getSeq[Double](1)).map(_.length.toLong).getOrElse(0L)).sum,
      centRows.length, maxCentroids, caller,
      "pass a larger maxCentroids explicitly with per-task heap sized " +
        "for the summed boxed-element mass")
    val vecsLit = typedLit(centRows.map(_.getSeq[Double](1)).toSeq)
    val idsLit = typedLit(centRows.map(r =>
      row2long(r, 0, caller, "centroid id")).toSeq)
    val best = array_max(transform(
      sequence(lit(0), lit(centRows.length - 1)), i =>
        struct(call_function("cosine_sim",
            element_at(vecsLit, i + lit(1)), col("vec")).as("c"),
          (-element_at(idsLit, i + lit(1))).as("t"),
          i.as("i"))))
    e.withColumn("_graft_best", best)
      .select(Seq(col("id"),
        (-col("_graft_best").getField("t")).cast(centIdType).as("cell"),
        col("vec")) ++ (if (withResidual)
          Seq(zip_with(col("vec"),
            element_at(vecsLit, col("_graft_best").getField("i") + lit(1)),
            (x, cc) => x - cc).as("rvec"))
        else Nil): _*)
  }

  /** Numeric Row field → Long for argmax tie-break literals, loud on
    * anything else (the "ids must be numeric" contract). */
  private def row2long(r: org.apache.spark.sql.Row, i: Int,
      caller: String, what: String): Long = r.get(i) match {
    case l: java.lang.Long => l
    case n: java.lang.Integer => n.toLong
    case n: java.lang.Short => n.toLong
    case n: java.lang.Byte => n.toLong
    case other => throw new IllegalArgumentException(
      s"$caller: $what must be an integral numeric, got " +
        s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
  }

  /** Deterministic spherical k-means (Lloyd) over an embedding column —
    * the centroid FIT that feeds [[ivfIndex]] on a real corpus (the
    * gated `q_ann_ivf` pins correctness with a deterministic id-rule
    * centroid set; production indexes fit centroids instead). EAGER
    * like an MLlib fit; returns `(cent_id, cv)` with `cent_id` = the
    * 0-based seed rank. Seeds = the `k` USABLE vectors with the lowest
    * `(xxhash64(id), id)` — deterministic like an id sort (same input
    * → same index, across runs and engines) but id-DECORRELATED: the
    * first k ids of a corpus are typically one crawl slice / one
    * shard, and seeding there biases every Lloyd round toward that
    * slice's region (review r11; lowest-id seeding was the previous
    * rule). The hash spread is a uniform draw without randomness.
    * "Usable" = has a defined self-cosine (the dirty-embedding rule
    * below) — a NULL/zero-norm/NaN seed would be a centroid nothing
    * can vote for, frozen for the whole fit. `iters` fixed Lloyd
    * rounds, no tolerance test.
    *
    * Scale shape per round — nothing corpus-sized crosses the wire:
    * assignment is ONE map-side projection (the centroid list rides
    * as a single array literal; each row argmaxes (cosine, −cent_id)
    * structs via zip_with + array_max inside whole-stage codegen —
    * r20 closed the gap where a crossJoin + groupBy(id) shape
    * re-shuffled all n rows per round); the mean recompute
    * pos-explodes to (cell, dim) keys whose partial
    * aggregation collapses BEFORE the exchange, so shuffle volume is
    * partitions × k × dim regardless of corpus size; only k×dim
    * doubles ever reach the driver (the MLlib fit pattern). Every
    * row votes once (the unique-id contract shared with
    * [[bpeTokenize]]'s packAssign rule). Empty
    * cells keep their previous centroid. Vectors with no defined
    * cosine against any centroid (zero-norm / NULL / NaN-element /
    * dim-mismatched — CosineSimilarity's dirty rule) are excluded
    * from the fit; everything else votes with its unit direction
    * through an order-free fixed-point sum, so the fitted centroids
    * are bit-identical under any input partitioning (spec-pinned).
    *
    * `seedSpread` is the decorrelating key the seed draw orders by
    * (given the id column, lowest (spread, id) wins). The default is
    * `xxhash64` — the best spread Spark has. The gated flavors
    * (`q_kmeans_cells`/`q_dedup_semantic`) pass a MINSTD spread
    * instead, equally id-decorrelated but reproducible in any SQL
    * engine, which is what lets the DuckDB oracle re-derive the whole
    * fit (VERDICT r14 item 1).
    *
    * `seedMode = "kcenter"` (r18 verdict item 1) replaces the hash
    * draw with the DETERMINISTIC greedy farthest-point picks of
    * [[kcenterCoreset]]: k sequential corpus passes instead of one,
    * but the seeds COVER every well-separated cluster by construction
    * — a hash draw at k ≈ #true-clusters leaves ~1/e of clusters
    * seedless (the coupon-collector gap; 3 Lloyd rounds do not
    * recover them), and on tight mixtures that poisons the GLOBAL
    * residual bounds an IVF×SQ fit hands [[ivfSqBounds]]
    * (docs/SCALING.md probe 36/37: hash-seeded span contraction ×1.1
    * vs kcenter's — measured — ×10+; recall floors re-measured
    * there). Greedy k-center is order-free given the id tie-break,
    * so fit determinism under repartitioning is preserved
    * (spec-pinned). Costs k driver rounds — the same [[kcenterCoreset]]
    * maxK=512 loud cap applies; past it, use `seedMode = "parallel"`.
    *
    * `seedMode = "parallel"` (r19 verdict item 1) is k-means‖
    * (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii — "Scalable
    * k-means++", VLDB 2012): 5 distributed oversampling rounds, each
    * drawing ~2k candidates with probability ∝ their distance to the
    * current candidate set, then the O(k log n) weighted candidates
    * re-clustered greedily ON THE DRIVER to the final k seeds. This
    * is the only seeding shape that works at the k ≈ √n a 100 TB IVF
    * wants: the corpus is scanned a CONSTANT number of times (5
    * exchange-free sampling passes, each paying only the round's NEW
    * candidates via a carried min-distance column, plus 1 weighting
    * pass whose broadcast-join argmax exchanges n NARROW (id,
    * cand_id) rows once) instead of kcenter's k sequential passes;
    * per round an expected-2k-row candidate frame collects, bounded
    * by a loud cap. Fully deterministic under any input
    * partitioning: the sampling threshold is a seeded xxhash64 draw
    * (the #56 integer-threshold trick) against a potential φ summed
    * in exact order-free fixed point (decimal micro-units, the Lloyd
    * mean's own discipline), candidate weights are exact counts, and
    * the driver phase breaks every tie by candidate id (spec-pinned
    * like the other two modes). Needs an integral id column (the
    * draw/tie-break key), like kcenter.
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5,
      seedSpread: Column => Column = xxhash64(_),
      seedMode: String = "spread"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(Seq("spread", "kcenter", "parallel").contains(seedMode),
      s"seedMode must be 'spread', 'kcenter' or 'parallel', got '$seedMode'")
    require(seedMode != "kcenter" || k <= 512,
      s"kmeansCentroids(seedMode = kcenter, k = $k) exceeds the greedy " +
        "picker's maxK = 512 — k-center seeding is k sequential corpus " +
        "passes (the kcenterCoreset cap rationale); for thousands of " +
        "cells use seedMode = parallel (k-means||, constant passes)")
    val spark = embeddings.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    import spark.implicits._
    val e = embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .persist()
    try {
      val usable = e
        .where(call_function("cosine_sim", col("vec"), col("vec")).isNotNull)
      // kcenterPicks reads ids as longs for its deterministic
      // tie-break (r19 review: the spread draw accepts any id type,
      // so the kcenter flavor must refuse non-integral ids loudly
      // rather than ClassCastException inside the first collect);
      // null ids cannot tie-break deterministically and are excluded
      // from SEEDING only — they still vote in the Lloyd rounds
      var cents: Seq[(Long, Seq[Double])] =
        if (seedMode == "kcenter" || seedMode == "parallel") {
          val idType = embeddings.schema(idCol).dataType.typeName
          require(Seq("byte", "short", "integer", "long").contains(idType),
            s"seedMode = $seedMode needs an integral id column for its " +
              s"deterministic draw/tie-break; '$idCol' is " +
              s"$idType — use seedMode = spread")
          val seedable = usable.where(col("id").isNotNull)
            .select(col("id").cast("long").as("id"), col("vec"))
          if (seedMode == "kcenter")
            graft.operators.Similarity.kcenterPicks(
              seedable.select(col("id").as("vec_id"), col("vec").as("v")), k)
              .map { case (r, _, v, _) => (r.toLong, v) }
          else kmeansParallelSeeds(seedable, k)
        }
        else usable
          .orderBy(seedSpread(col("id")), col("id")).limit(k)
          .select(col("vec")).collect()
          .zipWithIndex
          .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }.toSeq
      // the Lloyd-round assignment embeds all k centroids as a task
      // literal — the probe-41 per-task-heap hazard — and k is
      // UNCAPPED for spread/parallel seeding (ADVICE r20: a fit that
      // previously worked through the broadcast join would OOM
      // mid-job here with no loud error). Budget the element mass
      // before the first round, not after the first executor dies.
      if (cents.nonEmpty)
        requireLiteralElems(
          cents.iterator.map(_._2.length.toLong).sum, cents.length,
          MaxBroadcastCentroids, "kmeansCentroids",
          // this API exposes no row dial — say so instead of pointing
          // at one that does not exist (ADVICE r21): the limit is
          // fixed here; oversized fits go through sharded fit-and-merge
          "note this limit is FIXED for kmeansCentroids (no dial): " +
            "fit per shard and merge, or fit through ivfIndex-style " +
            "pre-clustering")
      for (_ <- 0 until iters) {
        val cDf = cents.toDF("cent_id", "cv")
        // broadcast-argmax assignment as ONE map-side projection: the
        // centroid list rides as a single pair of array literals and
        // every row picks its cell INSIDE the projection via
        // zip_with + array_max over (ccos, -cent_id) structs — the
        // exact max_by ordering the previous shape used — so NOTHING
        // corpus-sized shuffles. (The historical crossJoin +
        // groupBy(id) form re-shuffled all n (id, vec, cell) rows per
        // Lloyd round: invisible at gate SF, the dominant exchange at
        // corpus scale — r20.) A NULL cosine (zero-norm / NULL /
        // NaN-element / dim-skew vector — CosineSimilarity's
        // dirty-embedding rule) means the row has no usable
        // direction: the filter inside the array drops that centroid,
        // an all-null row yields array_max(empty) = NULL cell, and
        // the where drops it — and conversely a finite cosine proves
        // every element finite and the norm positive, so the mean
        // below needs no further guards
        val best = array_max(filter(
          zip_with(typedLit(cents.map(_._2)), typedLit(cents.map(_._1)),
            (cv, cid) => struct(
              call_function("cosine_sim", cv, col("vec")).as("c"),
              (-cid).as("t"))),
          s => s.getField("c").isNotNull))
        // every row votes for itself, null-id rows included: ids are
        // unique by contract, and the historical groupBy(id) shape
        // collapsed multi-null-id rows to one NONDETERMINISTIC
        // first() vote — per-row voting is the deterministic reading
        // and indistinguishable on any corpus honoring the contract.
        // (No union with a grouped null-id branch: Spark's Union
        // constraint rewrite chokes on the zip_with expression inside
        // the IsNotNull constraint — probe 41's k = 4096 crash.)
        val assigned = e
          .withColumn("cell", -best.getField("t"))
          .where(col("cell").isNotNull)
          .select("vec", "cell")
        val means = assigned
          // spherical k-means proper: each vector votes with its unit
          // DIRECTION — assignment is cosine (scale-invariant), so one
          // huge-magnitude embedding must not drag the centroid.
          // Normalizing also bounds every summand in [-1, 1], which the
          // deterministic fixed-point sum exploits: decimal(8,6) input
          // keeps the sum accumulator at decimal(18,6) — inside Spark's
          // compact-long representation (docs/SCALING.md probe 12; the
          // wider (38,18) flavor pays BigDecimal churn on every of the
          // n×dim updates). Per-value 1e-6 rounding is deterministic
          // and the long addition exact and order-free, so the fit
          // stays bit-identical under any partitioning (§6a;
          // spec-pinned). Loud ANSI overflow past ~1e12 vectors per
          // cell — raise the precision before fitting cells that big.
          .withColumn("nrm", sqrt(aggregate(col("vec"), lit(0.0d),
            (a, x) => a + x * x)))
          .select(col("cell"), col("nrm"),
            posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg(sum((col("x") / col("nrm")).cast("decimal(8,6)")).as("s"),
            count(lit(1)).as("n"))
          .groupBy("cell")
          // the mean leaves fixed-point as ONE double division of two
          // exactly-representable integers (micro-unit numerator,
          // micro-scaled count): correctly rounded by IEEE, so ANY
          // engine reproduces the same bits — Spark's decimal-divide-
          // then-cast has engine-specific precision/scale rules that
          // don't. Exact while n < 2^53/1e6 ≈ 9e9 vectors per cell
          // (inside the 1e12 ANSI bound above; the s*1e6 cast is loud
          // past it).
          .agg(transform(array_sort(
            collect_list(struct(col("pos"),
              ((col("s") * lit(1000000L)).cast("long").cast("double") /
                (col("n") * lit(1000000L)).cast("double")).as("m")))),
            s => s.getField("m")).as("cv"))
          .as[(Long, Seq[Double])].collect().toMap
        cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
      }
      cents.toDF("cent_id", "cv")
    } finally { e.unpersist(); () }
  }

  /** Candidate ceiling for [[kmeansParallelSeeds]] — candidates
    * collect to the driver (dim-wide rows) and the local re-cluster
    * is O(k·|C|·dim); 2^17 rows ≈ k = 13k at the paper's 5×2k
    * oversample, a few hundred MB decoded at dim 128. */
  private val MaxParallelSeedCands: Int = 1 << 17

  /** k-means‖ seed selection (Bahmani et al., VLDB 2012) over a
    * usable `(id: long, vec)` frame — the constant-pass seeding
    * behind [[kmeansCentroids]] `seedMode = "parallel"`; returns the
    * k seeds indexed 0..k−1 in pick order.
    *
    * Shape: 1 lowest-id seed, then `rounds` = 5 sampling passes. Each
    * pass keeps point x with probability min(1, 2k·d(x,C)/φ) where
    * d = 1 − cos to the nearest current candidate and φ = Σd — the
    * paper's ℓ = 2k oversampling. d is carried forward in a persisted
    * `dmin` column so a pass pays only the round's NEW candidates
    * (crossJoin vs an expected-2k-row broadcast, then a min per id —
    * the corpus never shuffles); φ is summed in exact decimal
    * micro-units so it is identical under any partitioning, and the
    * Bernoulli draw is `pmod(xxhash64(id, round), 2^40) < p·2^40` —
    * deterministic, engine-free, id-keyed (the #56 trick). After the
    * rounds, one weighting pass counts each candidate's nearest-
    * neighbor population (broadcast argmax, lowest-cand-id ties), and
    * the weighted candidates — O(k log n) rows, loud-capped at
    * [[MaxParallelSeedCands]] — are re-clustered ON THE DRIVER by
    * deterministic greedy weighted k-means++: next seed = argmax
    * w·dmin (the standard derandomization of the D²-weighted draw),
    * ties to the lowest candidate id; exhausted weights fall back to
    * plain farthest-point so near-k coverage survives even degenerate
    * weighting. Everything is a pure function of the input SET — the
    * fit stays bit-identical under repartitioning (spec-pinned).
    */
  private def kmeansParallelSeeds(e: DataFrame, k: Int)
      : Seq[(Long, Seq[Double])] = {
    val spark = e.sparkSession
    import spark.implicits._
    val rounds = 5
    val ell = 2.0 * k
    val seedRows = e.orderBy("id").limit(1).collect()
    if (seedRows.isEmpty) return Seq.empty
    val seed = (seedRows(0).getLong(0), seedRows(0).getSeq[Double](1))
    var cands = Vector(seed)
    // rows whose distance to the seed is undefined (cross-dim) cannot
    // vote in seeding — the kcenter null-exclusion rule; they still
    // vote in the Lloyd rounds
    var p = e.where(col("id") =!= seed._1)
      .withColumn("dmin", lit(1.0) - call_function("cosine_sim",
        col("vec"), array(seed._2.map(lit): _*)))
      .where(col("dmin").isNotNull)
      .persist()
    try {
      var r = 1
      while (r <= rounds) {
        // φ in exact order-free fixed point (the Lloyd-mean decimal
        // discipline): micro-round each dmin, sum exactly
        val phiRow = p.agg(sum(col("dmin").cast("decimal(18,6)"))).head()
        val phi =
          if (phiRow.isNullAt(0)) 0.0 else phiRow.getDecimal(0).doubleValue()
        if (phi <= 0) r = rounds + 1 // everything coincides with a candidate
        else {
          val prob =
            least(lit(1.0), lit(ell) * col("dmin") / lit(phi))
          val newRows = p
            .where(pmod(xxhash64(col("id"), lit(r)), lit(1L << 40))
              .cast("double") < prob * lit((1L << 40).toDouble))
            .select("id", "vec")
            .limit(MaxParallelSeedCands + 1).collect()
          require(cands.length + newRows.length <= MaxParallelSeedCands,
            s"kmeansCentroids(seedMode = parallel, k = $k): the " +
              s"oversample passed ${MaxParallelSeedCands} candidates — " +
              "they collect to the driver and the local re-cluster is " +
              "O(k*|C|*dim); fit fewer cells per call (shard the corpus " +
              "and merge fits) or oversegment with seedMode = spread")
          if (newRows.nonEmpty) {
            val nc = newRows.map(row =>
              (row.getLong(0), row.getSeq[Double](1))).toVector
            cands ++= nc
            if (r < rounds) {
              // pay only the NEW candidates: dmin' = min(dmin,
              // d-to-new), computed INSIDE one projection over a
              // single array literal of the round's candidates — the
              // map-side shape the Lloyd assignment uses; nothing
              // corpus-sized shuffles
              val dNew = lit(1.0) - array_max(filter(
                transform(typedLit(nc.map(_._2)),
                  cv => call_function("cosine_sim", cv, col("vec"))),
                c => c.isNotNull))
              val p2 = p
                .withColumn("dmin", least(col("dmin"), dNew))
                .persist()
              p2.count()
              p.unpersist()
              p = p2
            }
          }
          r += 1
        }
      }
    } finally { p.unpersist(); () }
    if (cands.length <= k)
      return cands.sortBy(_._1).zipWithIndex
        .map { case ((_, v), i) => (i.toLong, v) }
    // weighting pass: each corpus point votes for its nearest
    // candidate (max cosine, ties to the lowest candidate id), then
    // a count contraction to ≤|C| rows. BOTH declarative shapes fail
    // at the k ≈ 4096 oversample scale, each in its own way (probe
    // 41's two k = 4096 failures): the array-literal projection
    // java-deserializes the O(k log n) candidate set into EVERY
    // task's heap (32 boxed ~41k×64 copies → OOM), and the
    // crossJoin + groupBy(id) max_by is a SORT aggregate (struct agg
    // buffer — not hash-aggregable) over the n×|C| expanded rows →
    // terabytes of spill. So this pass is the library's one
    // mapPartitions: a TorrentBroadcast of the candidate array (ONE
    // copy per executor) and a plain per-row scala argmax — exactly
    // MLlib's k-means|| shape. Votes are a pure function of
    // (row, broadcast), so fit determinism under any partitioning is
    // preserved (spec-pinned); null elements read as 0.0 and
    // dim-mismatched candidates score nothing, mirroring
    // cosine_sim's rules. One narrow hash-aggregated count exchange;
    // nothing corpus-sized moves.
    val wMap = {
      import org.apache.spark.sql.Encoders
      val spark2 = e.sparkSession
      val bcC = spark2.sparkContext.broadcast(cands.toArray.map {
        case (cid, v) =>
          val a = v.toArray
          var n2 = 0.0
          var j = 0
          while (j < a.length) { n2 += a(j) * a(j); j += 1 }
          (cid, a, math.sqrt(n2))
      })
      val votes = e
        .select(col("id"),
          transform(col("vec"), x => coalesce(x, lit(0.0))).as("vec"))
        .as(Encoders.product[(Long, Seq[Double])])
        .mapPartitions { it =>
          val cs = bcC.value
          it.flatMap { case (_, v0) =>
            val v = v0.toArray
            var vn2 = 0.0
            var j = 0
            while (j < v.length) { vn2 += v(j) * v(j); j += 1 }
            val vn = math.sqrt(vn2)
            if (vn == 0.0 || !java.lang.Double.isFinite(vn)) None
            else {
              var bestC = Double.NegativeInfinity
              var bestId = Long.MinValue
              var found = false
              var ci = 0
              while (ci < cs.length) {
                val (cid, cv, cn) = cs(ci)
                if (cv.length == v.length && cn > 0.0) {
                  var d = 0.0
                  j = 0
                  while (j < v.length) { d += v(j) * cv(j); j += 1 }
                  val c = d / (vn * cn)
                  if (java.lang.Double.isFinite(c) &&
                    (!found || c > bestC || (c == bestC && cid < bestId))) {
                    found = true; bestC = c; bestId = cid
                  }
                }
                ci += 1
              }
              if (found) Some(bestId) else None
            }
          }
        }(Encoders.scalaLong)
      try votes.toDF("cand_id")
        .groupBy("cand_id").agg(count(lit(1)).as("w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally bcC.destroy()
    }
    // driver phase: deterministic greedy weighted k-means++ over the
    // id-sorted candidates — O(k·|C|·dim), pure local arithmetic
    val sorted = cands.sortBy(_._1)
    val n = sorted.length
    val unit = sorted.map { case (_, v) =>
      val a = v.toArray
      val nrm = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / nrm)
    }.toArray
    val w = sorted.map(c => wMap.getOrElse(c._1, 0L).toDouble).toArray
    val dmin = Array.fill(n)(2.0)
    val chosen = Array.fill(n)(false)
    var out = Vector.empty[(Long, Seq[Double])]
    // first pick: the heaviest candidate (first-in-id-order ties)
    var best = 0
    var i = 1
    while (i < n) { if (w(i) > w(best)) best = i; i += 1 }
    while (out.length < k && best >= 0) {
      chosen(best) = true
      out :+= ((out.length.toLong, sorted(best)._2))
      val c = unit(best)
      i = 0
      while (i < n) {
        // cross-dim candidate pairs have no defined distance — the
        // update skips them, mirroring cosine_sim's null rule
        if (!chosen(i) && unit(i).length == c.length) {
          var s = 0.0; var j = 0
          while (j < c.length) { s += unit(i)(j) * c(j); j += 1 }
          if (1.0 - s < dmin(i)) dmin(i) = 1.0 - s
        }
        i += 1
      }
      best = -1
      var bs = 0.0
      i = 0
      while (i < n) {
        if (!chosen(i) && w(i) * dmin(i) > bs) { best = i; bs = w(i) * dmin(i) }
        i += 1
      }
      if (best < 0) {
        // all remaining weighted scores are 0 (weightless or
        // coincident candidates) — fall back to plain farthest-point
        // so coverage degrades to k-center, not to a truncated fit
        var bd = 1e-12
        i = 0
        while (i < n) {
          if (!chosen(i) && dmin(i) > bd) { best = i; bd = dmin(i) }
          i += 1
        }
      }
    }
    out
  }

  /** Writes an [[ivfIndex]] frame as a parquet table BUCKETED by cell —
    * the layout that makes serving exchange-free on the corpus side:
    * the probe join keys on `cell`, and a bucketed scan already
    * satisfies that distribution, so per query batch only the (tiny)
    * probe frame moves (IvfIndexSpec asserts the no-Exchange plan).
    * Append re-ingested vectors' assignments (`overwrite = false`) and
    * the table stays the full corpus index.
    */
  def writeIvfIndex(index: DataFrame, table: String, buckets: Int = 32,
      overwrite: Boolean = false): Unit =
    index.write.mode(if (overwrite) "overwrite" else "append")
      .bucketBy(buckets, "cell").sortBy("cell")
      .format("parquet").saveAsTable(table)

  /** Per-cell population of an [[ivfIndex]]-shaped frame (needs `id`,
    * `cell`): `(cell, n_vecs, share)` — the balance readout behind
    * the gated `q_ivf_cell_balance` (spec-pinned to it on the gate
    * assignment). One contraction to ≤ #cells rows; point it at a
    * stored index table to audit a serving index without
    * re-assigning. */
  def ivfCellBalance(index: DataFrame): DataFrame =
    graft.operators.Similarity.cellBalance(index.select("id", "cell"))

  /** The FAISS-style imbalance factor of an [[ivfIndex]]-shaped
    * frame, one row: `(n_cells, n_vecs, min_cell, max_cell,
    * imbalance)` with `imbalance` = k·Σ(nᵢ/n)² — 1.0 is perfectly
    * balanced; expected probe cost scales by this factor, so a value
    * ≫1 means the fitted centroids are mis-sized for the corpus and
    * IVF serving will silently approach a full scan (refit with
    * better k or seeds before trusting latency numbers). Exact
    * moments in DECIMAL(38,0) — a Long Σn² overflows once one cell
    * holds ~3×10⁹ vectors, exactly the scale this readout exists
    * for — with ONE final double division. */
  def ivfImbalance(index: DataFrame): DataFrame =
    index.select("id", "cell")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"),
        sum("n").as("n_vecs"),
        min("n").as("min_cell"),
        max("n").as("max_cell"),
        // cast BEFORE the square — a Long product would overflow
        // before any widening could see it
        sum(col("n").cast("decimal(19,0)") * col("n")).as("_m2"))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"),
        col("max_cell"),
        ((col("_m2") * col("n_cells")).cast("double") /
          (col("n_vecs").cast("decimal(38,0)") *
            col("n_vecs")).cast("double")).as("imbalance"))

  /** Serve ANN queries against a stored [[ivfIndex]]: per query, rank
    * centroids by cosine, probe the top `nprobe` cells, re-rank the
    * probed cells' vectors exactly, keep the top `k` (ties → lowest
    * id). `excludeSelf` drops index rows whose id equals the query id
    * (queries drawn from the indexed corpus). The scan fraction — and
    * the recall trade — is nprobe / n_cells, the dial the gated
    * `q_ann_ivf`'s AnnSpec sweeps; the index side is read bucketed and
    * never re-assigned, so serving cost is probes × cell size.
    */
  def ivfQuery(index: DataFrame, centroids: DataFrame, centIdCol: String,
      centVecCol: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, nprobe: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    graft.functions.CosineSimilarity.register(index.sparkSession)
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("ccos", call_function("cosine_sim", col("cv"), col("qv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"))
    val wTop = Window.partitionBy("q_id").orderBy(col("cos").desc, col("id"))
    val cand = probes.join(index, "cell")
    val filtered =
      if (excludeSelf) cand.where(col("id") =!= col("q_id")) else cand
    filtered
      .withColumn("cos", call_function("cosine_sim", col("qv"), col("vec")))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "cos")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985) over an
    * embedding column — k maximally-spread representatives with their
    * coverage radii and nearest-center populations, the diverse-subset
    * primitive for eval seeds / prototype sets / data pruning.
    * Deterministic (lowest-id seed, farthest-point rounds, id
    * tie-breaks); dirty vectors (no defined self-cosine) are excluded
    * like every ANN fit here. k broadcast-argmax corpus scans and k
    * single-row collects — nothing corpus-sized moves.
    */
  def kcenterCoreset(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, maxK: Int = 512): DataFrame = {
    // loud cap (the minhashBanding/maxCell convention, r17 verdict):
    // the greedy loop is INHERENTLY k driver rounds, each embedding
    // one center as a dim-wide literal — a k in the thousands means a
    // k×dim literal tower and k full corpus passes. That cost is the
    // algorithm, not a plan flaw; it must be accepted explicitly.
    require(k <= maxK,
      s"kcenterCoreset(k = $k) exceeds maxK = $maxK — greedy k-center " +
        "is k sequential corpus passes with k×dim centers embedded as " +
        "plan literals; for thousands of representatives use " +
        "kmeansCentroids (one pass per Lloyd round, any k) or pass a " +
        "larger maxK to accept the cost explicitly")
    graft.functions.CosineSimilarity.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .where(call_function("cosine_sim", col("v"), col("v")).isNotNull)
    graft.operators.Similarity.kcenterCore(e, k)
  }

  /** Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken
    * 2003 — the char-grain member of the dedup family, #176): per doc
    * one codegen'd `winnow_fps` sketch pass (rolling k-gram polynomial
    * + w-window minima over Unicode code points, ~2/(w+1) of the
    * k-gram stream retained), df-capped candidate join on shared
    * fingerprints, Jaccard ≥ tau acceptance over the sketches. Any
    * shared substring of ≥ k+w−1 normalized chars is GUARANTEED to
    * surface a shared fingerprint — the dial to set from your minimum
    * interesting match length. One keyed shuffle; fan-out df²-bounded.
    *
    * Cache contract: the returned (lazy) plan holds a `.persist()` on
    * the exploded-fingerprint frame — both sides of the candidate
    * self-join and the per-doc count consume it, and it is deliberately
    * NOT unpersisted here (the query executes after this returns; an
    * eager unpersist would void the cache and triple the work). A
    * long-lived session issuing MANY winnowPairs calls should
    * `spark.catalog.clearCache()` (or unpersist via its own
    * QueryExecutionListener) after consuming each result, or the
    * cached frames accumulate. Same contract as [[bpeTokenize]].
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = graft.operators.Dedup.WinnowK,
      w: Int = graft.operators.Dedup.WinnowW,
      tau: Double = graft.operators.Dedup.WinnowTau,
      dfCap: Long = graft.operators.Dedup.WinnowDfCap): DataFrame =
    graft.operators.Dedup.winnowPairs(docs, idCol, textCol, k, w, tau, dfCap)

  /** Winnowed-fingerprint index rows `(id, shingle)` — the char-grain
    * twin of [[shingleIndex]], with the winnowed fingerprint standing
    * in the `shingle` column. Structurally identical on purpose: the
    * WHOLE stored-index machinery ([[writeShingleIndex]] bucketing,
    * [[incrementalDedupPairsIndexed]] O(batch) ingest pairing, its
    * df-cap) applies verbatim, giving winnowing the same incremental
    * form the word-shingle family has — dedup an arriving batch
    * against a bucketed fingerprint store without re-pairing the
    * store against itself.
    */
  def winnowIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = graft.operators.Dedup.WinnowK,
      w: Int = graft.operators.Dedup.WinnowW): DataFrame = {
    graft.functions.WinnowFps.register(docs.sparkSession)
    docs
      .withColumn("norm",
        graft.operators.Dedup.contentNormOf(col(textCol)))
      .select(col(idCol).as("id"),
        explode(expr(s"winnow_fps(norm, $k, $w)")).as("shingle"))
  }

  /** MinHash + banded-LSH near-duplicate pairs over ANY id+text frame
    * — the frame form of the #27 gate query, so the
    * [[minhashBanding]] sizing rule has an API to feed: word-3-gram
    * shingles (codegen'd [[graft.functions.WordShingles]]), one
    * map-side K=bands×rowsPerBand signature pass (codegen'd
    * [[graft.functions.MinHashSig]], seeded xxhash64), the band-bucket
    * self-join as the sole pair-producing shuffle, pairs deduplicated
    * BEFORE signatures re-attach, and EXACT-Jaccard verification on
    * candidates only. Returns `(doc_a, doc_b, est_jaccard, jaccard)`
    * with jaccard ≥ `tau`.
    *
    * Defaults are the gate dial (16×4); size the dial for your corpus
    * with `minhashBanding(n, tau)` — and note its two-regime caveat
    * (probe 34): the dial controls moderate-similarity fan-out, not
    * true-dup cluster mass.
    *
    * Cache contract: the returned (lazy) plan holds a `.persist()` on
    * the shingle-set frame — the signature pass and the exact-Jaccard
    * verification both consume it, and it is deliberately NOT
    * unpersisted here (the query executes after this returns). A
    * long-lived session issuing MANY minhashPairs calls should
    * `spark.catalog.clearCache()` (or unpersist via its own
    * QueryExecutionListener) after consuming each result, or the
    * cached frames accumulate. Same contract as [[winnowPairs]] /
    * [[bpeTokenize]].
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4,
      tau: Double = graft.operators.Dedup.JaccardTau): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"banding dials must be positive, got bands=$bands rows=$rowsPerBand")
    val spark = docs.sparkSession
    graft.functions.WordShingles.register(spark)
    graft.functions.MinHashSig.register(spark)
    val sets = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_mh_text"))
      .select(col("doc_id"), expr("word_shingles(_mh_text, 3)").as("shingles"))
      .withColumn("n_shingles", size(col("shingles")).cast("long"))
      .persist()
    graft.operators.Dedup.minhashLshPipelineFrame(sets, "minhash_sig",
      slots => xxhash64(slots: _*), bands, rowsPerBand, tau)
  }

  /** SIZE the minhash-LSH banding dial from corpus size and target
    * Jaccard τ — the standard S-curve algebra (Leskovec/Rajaraman/
    * Ullman, MMDS ch. 3; the (b=450, r=20) dial of Lee et al. 2022's
    * corpus-scale dedup falls out of the same two inequalities), so
    * the dial the r16 verdict flagged as "exists but manual" has a
    * derivation (VERDICT r16 item 3). With `r` rows per band, a pair
    * at similarity s collides in one band with probability s^r and
    * becomes a candidate with probability 1 − (1 − s^r)^b.
    *
    * Two constraints pick (bands, rowsPerBand):
    *  1. OCCUPANCY — a clearly-below-τ pair (s ≤ `sBackground`,
    *     default τ/2) should produce ≤ `maxCollisionsPerDoc` expected
    *     candidates per document ACROSS ALL BANDS (a pair is a
    *     candidate if any band collides — union bound):
    *     b · sBackground^r · n ≤ max. Solved iteratively with
    *     constraint 2 (b depends on r): start r at the single-band
    *     solution ln(n/max)/ln(1/sBackground) and deepen until the
    *     union holds — converges since each +1 in r scales the
    *     product by ~sBackground/τ < 1. This is the term that GROWS
    *     with corpus size — probe 31 measured the fixed 16×4
    *     default's bucket occupancy growing 14× at ×10 mass precisely
    *     because r=4 admits s=0.5 pairs at 6.25% per band.
    *  2. RECALL — a pair AT τ must become a candidate with probability
    *     ≥ `recall`: 1 − (1 − τ^r)^b ≥ recall, i.e.
    *     b ≥ ln(1 − recall) / ln(1 − τ^r) at the r chosen above.
    *
    * K = b·r minhash slots is the price: one K-long signature per doc
    * (map-side, one pass) and K/r bucket rows per doc into the
    * band-bucket join. The `maxK` guard refuses silently-unaffordable
    * dials — relax `recall`, raise `tau`, or accept the larger K
    * explicitly. Verification stays exact either way: the dial moves
    * candidate recall and join fan-out, never survivor correctness.
    *
    * At the gate corpus (n=5×10³, τ=0.8) this returns (52, 14); at
    * n=10⁸ the STRICT default (≤1 expected background candidate per
    * doc) prices out at (1190, 28) — K=33320, above the default maxK
    * guard, which is the point: that IS what ≤10⁸ total background
    * candidates at 90% recall costs. Relaxing maxCollisionsPerDoc to
    * 100 gives (311, 22), K=6842 — the Lee-et-al. (450×20) cost
    * class, bought by accepting ~10¹⁰ background candidates that the
    * exact verification then discards.
    *
    * What the dial does and does NOT govern (probe 34, docs/
    * SCALING.md): the occupancy inequality controls MODERATE-
    * similarity collision mass — on a boilerplate-templated corpus
    * (every unrelated pair at s ≈ 0.4) the default 16×4 emitted 36%
    * of all n² pairs as candidates while this rule's dial cut them
    * 21×. It cannot reduce TRUE near-dup cluster mass: an s ≈ 1 pair
    * collides in every band at any r, so collision rows scale as
    * b × (true pairs) — for dup-cluster-heavy corpora prefer the
    * incremental/df-capped dedup path over more bands.
    */
  def minhashBanding(n: Long, tau: Double, recall: Double = 0.9,
      sBackground: Double = -1.0, maxCollisionsPerDoc: Double = 1.0,
      maxK: Int = 1 << 14): (Int, Int) = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(tau > 0 && tau < 1, s"tau must be in (0, 1), got $tau")
    require(recall > 0 && recall < 1, s"recall must be in (0, 1), got $recall")
    require(maxCollisionsPerDoc > 0, "maxCollisionsPerDoc must be positive")
    val s0 = if (sBackground > 0) sBackground else tau / 2
    require(s0 < tau, s"sBackground ($s0) must sit below tau ($tau) — " +
      "it is the similarity the dial treats as noise")
    def bFor(r: Int): Int = math.max(1, math.ceil(
      math.log1p(-recall) / math.log1p(-math.pow(tau, r))).toInt)
    // a pair becomes a candidate if ANY of the b bands collides, so
    // the occupancy constraint must hold for the UNION over bands:
    // expected background candidates per doc ≤ b·s0^r·n (union bound).
    // Start r at the single-band solution and deepen until the bands
    // are accounted for — converges because each +1 in r scales the
    // product by ~s0/tau < 1 (b grows like tau^-r, the per-band mass
    // falls like s0^r). (Post-review r17 fix: the first form of this
    // rule bounded ONE band's collisions and silently delivered
    // b-times the promised candidate budget.)
    var r = math.max(2, math.ceil(
      math.log(n.toDouble / maxCollisionsPerDoc) / math.log(1.0 / s0)).toInt)
    var b = bFor(r)
    while (b.toDouble * math.pow(s0, r) * n > maxCollisionsPerDoc) {
      r += 1; b = bFor(r)
    }
    require(b.toLong * r <= maxK,
      s"minhashBanding(n=$n, tau=$tau, recall=$recall) needs K=b*r=" +
        s"${b.toLong * r} > maxK=$maxK minhash slots — relax recall, " +
        "raise tau/sBackground, or pass a larger maxK (the cost is one " +
        "K-long signature per document)")
    (b, r)
  }

  /** Fit per-subspace PRODUCT-QUANTIZATION codebooks (Jégou/Douze/
    * Schmid, TPAMI 2011) — Euclidean Lloyd over each of `m` subvector
    * slices, all subspaces fitted in ONE pass per round over an
    * exploded `(id, subspace, subvector)` frame (never m separate
    * corpus scans). Returns `(subspace, code, cw)`, m×k rows — the
    * whole codebook is k×dim doubles, the only thing that ever
    * reaches the driver (the [[kmeansCentroids]] convention).
    *
    * Seeds per subspace are the subvectors of the k USABLE vectors
    * with the lowest `(xxhash64(id), id)` — the same id-decorrelated
    * deterministic draw as [[kmeansCentroids]]. Assignment argmin uses
    * the constant-dropped squared-L2 key ‖cw‖² − 2·(sv·cw) through the
    * codegen'd dot_product; ties → lowest code. Mean recompute rounds
    * summands to decimal(9,6) — exact, order-free long/decimal
    * addition, so the fit is bit-identical under any input
    * partitioning; loud ANSI overflow past |x| ≥ 1000 (embedding
    * components beyond that: scale your vectors first). Empty codes
    * keep their previous codeword.
    *
    * Usable = declared dim, no null/NaN elements. `dim` is declared by
    * the caller (schema knowledge, like [[ivfQuery]]'s k) and must be
    * divisible by m.
    */
  def pqCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 5): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(dim > 0 && dim % m == 0, s"dim ($dim) must be a positive multiple of m ($m)")
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val spark = embeddings.sparkSession
    graft.functions.DotProduct.register(spark)
    import spark.implicits._
    val sub = dim / m
    val e0 = usablePqVectors(embeddings, idCol, vecCol, dim)
    val ev = explodeSubvectors(e0, m, sub).persist()
    try {
      var books: Map[(Int, Long), Seq[Double]] =
        e0.orderBy(xxhash64(col("id")), col("id")).limit(k)
          .select(col("vec")).collect().zipWithIndex.flatMap { case (r, i) =>
            val v = r.getSeq[Double](0)
            (0 until m).map(s => ((s, i.toLong), v.slice(s * sub, s * sub + sub)))
          }.toMap
      for (_ <- 0 until iters) {
        val cb = books.toSeq.map { case ((s, c), cw) => (s, c, cw) }
          .toDF("s", "code", "cw")
        val means = ev.join(broadcast(cb), "s")
          .withColumn("key",
            call_function("dot_product", col("cw"), col("cw")) -
              lit(2.0) * call_function("dot_product", col("sv"), col("cw")))
          .groupBy("id", "s")
          .agg(first(col("sv")).as("sv"),
            min_by(col("code"), struct(col("key"), col("code"))).as("code"))
          .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("s", "code", "pos")
          .agg(sum(col("x").cast("decimal(9,6)")).as("sm"), count(lit(1)).as("n"))
          .groupBy("s", "code")
          .agg(transform(array_sort(
            collect_list(struct(col("pos"),
              (col("sm") / col("n")).cast("double").as("mn")))),
            t => t.getField("mn")).as("cw"))
          .as[(Int, Long, Seq[Double])].collect()
          .map { case (s, c, cw) => ((s, c), cw) }.toMap
        books = books.map { case (key, cw) => (key, means.getOrElse(key, cw)) }
      }
      books.toSeq.map { case ((s, c), cw) => (s, c, cw) }
        .sortBy { case (s, c, _) => (s, c) }
        .toDF("subspace", "code", "cw")
        // codebook PROVENANCE marker (r16 self-review): a codebook
        // fitted on raw vectors must not be composed with a
        // residual-encoding index — [[ivfPqIndex]] checks agreement.
        // [[ivfPqCodebooks]] overrides this to true after fitting on
        // the rvec column.
        .withColumn("fit_residual", lit(false))
    } finally { ev.unpersist(); () }
  }

  /** Encode a corpus against fitted [[pqCodebooks]]: `(id, codes)`
    * with `codes(s)` = the argmin-L2 codeword id of subvector s —
    * the STORED form of a PQ index, m small ints per vector instead
    * of dim doubles (~64× smaller at dim 64 / m 8; byte-packable at
    * k ≤ 256), which is what lets the serving tier hold the whole
    * corpus in memory. The m×k codebook collects ONCE (it broadcast
    * whole before anyway) and every row assigns all m codes INSIDE
    * one projection — per subspace an argmin over that subspace's
    * codeword literal with min_by's (key, code) ordering — so the
    * encode is ZERO exchanges (r20: the previous explode +
    * groupBy(id, s) + groupBy(id) chain claimed map-side
    * combinability, but the keys are unique, so it re-shuffled the
    * corpus twice at m× multiplicity).
    */
  def pqEncode(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.DotProduct.register(spark)
    val (m, sub) = pqShape(codebooks)
    val cbRows = codebooks.select(col("subspace").cast("int").as("s"),
      col("code"), col("cw").cast("array<double>").as("cw")).collect()
    val codeType = codebooks.schema("code").dataType
    val bySub = (0 until m).map { s =>
      cbRows.filter(_.getInt(0) == s)
        .map(r => (row2long(r, 1, "pqEncode", "code id"),
          r.getSeq[Double](2)))
        .sortBy(_._1).toSeq
    }
    require(bySub.forall(_.nonEmpty),
      "pqEncode: a subspace has no codewords — fit pqCodebooks over " +
        "the full subspace range first")
    val cwLit = typedLit(bySub.map(_.map(_._2)))
    val codeLit = typedLit(bySub.map(_.map(_._1)))
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(col("vec"), s * lit(sub) + lit(1), lit(sub))
      array_min(zip_with(
        element_at(cwLit, s + lit(1)), element_at(codeLit, s + lit(1)),
        (cw, code) => struct(
          (call_function("dot_product", cw, cw) -
            lit(2.0) * call_function("dot_product", sv, cw)).as("k"),
          code.as("t")))).getField("t")
    })
    usablePqVectors(embeddings, idCol, vecCol, m * sub)
      .select(col("id"), codes
        .cast(org.apache.spark.sql.types.ArrayType(codeType)).as("codes"))
  }

  /** PQ top-k serving by ASYMMETRIC distance computation: queries stay
    * full-precision; per query the m×k partial-dot table
    * `tab(s, code) = q_sub(s) · cw(s, code)` is computed against the
    * broadcast codebook, and each corpus vector scores as the SUM of
    * its m table lookups — exactly `q · recon(v)`, without ever
    * touching a corpus vector. Returns `(q_id, rank, id, adc)`, top-k
    * per query (ties → lowest id).
    *
    * Scale shape: the scored side reads ONLY the [[pqEncode]] codes
    * table; the query×codebook table broadcasts (queries × m × k
    * rows); the per-(q, id) sum map-side-combines its m partials
    * before the one aggregate exchange. At corpus scale compose with
    * [[ivfIndex]] cell routing to make the scan sublinear — this
    * method is the in-cell scorer.
    */
  def pqQuery(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = codes.sparkSession
    graft.functions.DotProduct.register(spark)
    val (m, sub) = pqShape(codebooks)
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val tab = q.crossJoin(codebooks)
      .select(col("q_id"), col("subspace").as("s"), col("code"),
        call_function("dot_product",
          slice(col("qv"), col("subspace") * sub + 1, lit(sub)),
          col("cw")).as("partial"))
    val exploded = codes.select(col("id"),
      posexplode(col("codes")).as(Seq("s", "code")))
    val wTop = Window.partitionBy("q_id").orderBy(col("adc").desc, col("id"))
    exploded
      .join(broadcast(tab), Seq("s", "code"))
      .where(if (excludeSelf) col("id") =!= col("q_id") else lit(true))
      .groupBy("q_id", "id")
      .agg(sum(col("partial")).as("adc"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "adc")
  }

  /** The coarse assignment WITH residuals: every usable vector's
    * [[ivfIndex]] cell plus `rvec = vec − centroid(cell)` —
    * `(id, cell, vec, rvec)`. The residual is what IVFADC proper
    * quantizes (Jégou/Douze/Schmid 2011 §III; FAISS IndexIVFPQ's
    * `by_residual`): residuals concentrate around the origin with
    * far smaller spread than raw vectors, so the same PQ bit budget
    * buys materially finer resolution — the main reason IVFADC beats
    * flat PQ at equal bits. The residual computes in the SAME
    * map-side projection as the assignment (the winning centroid
    * rides its array index — see [[ivfAssigned]]): zero joins, zero
    * exchanges, the corpus never shuffles.
    */
  def ivfResiduals(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      maxCentroids: Int = MaxBroadcastCentroids): DataFrame =
    ivfAssigned(embeddings, idCol, vecCol, centroids, centIdCol,
      centVecCol, maxCentroids, "ivfResiduals", withResidual = true)

  /** Fit PQ codebooks on coarse RESIDUALS — the codebook an IVFADC
    * index ([[ivfPqIndex]] with `residual = true`, the default) must
    * be fitted with: [[ivfResiduals]] then [[pqCodebooks]] over the
    * `rvec` column. Fitting on raw vectors and encoding residuals (or
    * vice versa) silently wrecks recall — this wrapper exists so the
    * two stages can't disagree about what the quantizer's input
    * distribution is.
    */
  def ivfPqCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 5): DataFrame =
    pqCodebooks(
      ivfResiduals(embeddings, idCol, vecCol, centroids, centIdCol, centVecCol),
      "id", "rvec", dim, m, k, iters)
      .withColumn("fit_residual", lit(true))

  /** The IVFADC index (Jégou et al.'s "IVF + PQ" serving layout, the
    * architecture FAISS ships for billion-vector search): every vector
    * carries its coarse [[ivfIndex]] cell AND its [[pqEncode]] code
    * ids — `(id, cell, codes)`. Built in ONE corpus pass: the cell
    * assignment rides through the PQ encode as part of the grouping
    * key (a struct id), so the two indexes are composed without a
    * corpus-sized self-join. Store bucketed by `cell`
    * ([[writeIvfIndex]]-style) and [[ivfPqQuery]] probes scan
    * exchange-free.
    *
    * `residual = true` (default, the published IVFADC recipe) encodes
    * `vec − centroid(cell)` — pass codebooks fitted by
    * [[ivfPqCodebooks]] and serve with [[ivfPqQuery]]`(residual =
    * true)`, which adds the per-(query, cell) `q·c` constant back into
    * the ADC score. `residual = false` PQ-encodes the raw vector
    * (codebooks from [[pqCodebooks]] on `vec`); full-probe serving
    * then equals flat [[pqQuery]] exactly (spec-pinned).
    *
    * The index CARRIES its encoding flavor as a literal `residual`
    * column (one boolean, constant — parquet dictionary-encodes it to
    * nothing), and [[ivfPqQuery]] refuses an index whose marker
    * disagrees with its own flag: decoding residual codes with
    * raw-vector math (or vice versa) scores garbage SILENTLY, so the
    * flavor must live on the index, not in two free-floating booleans
    * (self-review r16 — two probes had drifted exactly this way).
    *
    * Dial guidance (SCALING probe 33, planted-NN corpus at ×64/×256):
    * `m` is THE recall dial — m=8 vs m=16 moved recall .08-.23 →
    * .30-.80 at EVERY routing dial, and no (cells, nprobe) choice
    * rescues an under-resolved quantizer. Cells ≈ √n helps the
    * residual flavor TWICE: per-query cost stays flat (probe 30) and
    * the residual spread shrinks with cell size, i.e. a finer
    * effective quantizer at the same m (+.14 recall going 64 → 724
    * cells at ×256/m=16, while the scan fraction fell 12×) — raw
    * encoding gets no such gain, which is why residual's margin
    * widens as cells rise. Size m by the memory budget and buy
    * recall back with [[ivfPqQueryRerank]]'s shortlist, not with m.
    */
  def ivfPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      codebooks: DataFrame, residual: Boolean = true): DataFrame = {
    // codebook-provenance agreement (r16 self-review): a raw-fitted
    // [[pqCodebooks]] composed with residual encoding (or vice versa)
    // quantizes against the wrong input distribution and silently
    // degrades recall. The marker frame is m×k rows (a LocalRelation
    // from the fit's driver-side collect), so the distinct read is
    // driver-cheap. Hand-built codebook frames without the marker skip
    // the check — the caller owns the agreement then.
    if (codebooks.columns.contains("fit_residual")) {
      val flavors = codebooks.select(col("fit_residual"))
        .distinct().collect().map(_.getBoolean(0)).toSet
      require(flavors == Set(residual),
        s"ivfPqIndex(residual = $residual) over a codebook fitted with " +
          s"fit_residual in {${flavors.mkString(", ")}} — fit with " +
          (if (residual) "ivfPqCodebooks (residual-fitted)"
           else "pqCodebooks (raw-fitted)") +
          " so the quantizer sees the distribution it was trained on")
    }
    val assigned =
      if (residual)
        ivfResiduals(embeddings, idCol, vecCol,
            centroids, centIdCol, centVecCol)
          .select(struct(col("id"), col("cell")).as("idc"),
            col("rvec").as("vec"))
      else
        ivfIndex(embeddings, idCol, vecCol,
            centroids, centIdCol, centVecCol)
          .select(struct(col("id"), col("cell")).as("idc"), col("vec"))
    pqEncode(assigned, "idc", "vec", codebooks)
      .select(col("id").getField("id").as("id"),
        col("id").getField("cell").as("cell"), col("codes"),
        lit(residual).as("residual"))
  }

  /** IVFADC top-k serving: probe the `nprobe` nearest cells per query
    * (broadcast centroid argmax, the [[ivfQuery]] routing), then score
    * ONLY the probed cells' vectors by table-lookup ADC (the
    * [[pqQuery]] math) — sublinear scan over a 64×-compressed operand,
    * never touching a raw corpus vector. Returns
    * `(q_id, rank, id, adc)`.
    *
    * Scale shape: centroids, the query probe list, and the per-query
    * partial-dot table all broadcast; the index side is ONE scan
    * filtered to probed cells (bucketed store ⟹ exchange-free), the m
    * ADC partials map-side-combine before the one aggregate exchange.
    *
    * `residual = true` (default) serves a residual-encoded index
    * ([[ivfPqIndex]]'s default): the score is `q·c(cell) + Σ
    * tab(s, code)` = `q·(centroid + recon(residual))` ≈ `q·v` — the
    * `q·c` constant rides the (already broadcast) probe list as one
    * extra column, so the add-back costs nothing at the corpus grain.
    * Must match the index's encoding flavor: a flag mismatch scores
    * garbage (residual codes against raw-vector math or vice versa).
    *
    * nprobe guidance (SCALING probe 33): size nprobe for CELL-HIT
    * probability only — past the point where the true neighbor's
    * cell is probed, MORE probes actively hurt (recall fell as
    * nprobe rose at every measured dial: each extra cell adds
    * candidates whose reconstruction noise out-ranks true neighbors
    * inside the approximate top-k). When ADC noise binds, the fix is
    * [[ivfPqQueryRerank]]'s exact tail, never a wider probe.
    */
  def ivfPqQuery(index: DataFrame, centroids: DataFrame,
      centIdCol: String, centVecCol: String, codebooks: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int, excludeSelf: Boolean = false,
      residual: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    // codebook flavor agreement — the codebook frame is m×k rows (a
    // LocalRelation from the fit's collect), so this distinct read is
    // driver-cheap, unlike a read of the corpus-sized index
    if (codebooks.columns.contains("fit_residual")) {
      val flavors = codebooks.select(col("fit_residual"))
        .distinct().collect().map(_.getBoolean(0)).toSet
      require(flavors == Set(residual),
        s"ivfPqQuery(residual = $residual) over a codebook fitted with " +
          s"fit_residual in {${flavors.mkString(", ")}} — the ADC table " +
          "would be built from the wrong quantizer; match the flavor")
    }
    val spark = index.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.DotProduct.register(spark)
    val (_, sub) = pqShape(codebooks)
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).cast("array<double>").as("cv"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("ccos", call_function("cosine_sim", col("cv"), col("qv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("q_id") +: col("cent_id").as("cell") +:
        (if (residual)
          Seq(call_function("dot_product", col("qv"), col("cv")).as("cdot"))
        else Seq.empty): _*)
    val tab = q.crossJoin(codebooks)
      .select(col("q_id"), col("subspace").as("s"), col("code"),
        call_function("dot_product",
          slice(col("qv"), col("subspace") * sub + 1, lit(sub)),
          col("cw")).as("partial"))
    val wTop = Window.partitionBy("q_id").orderBy(col("adc").desc, col("id"))
    // index flavor agreement: an [[ivfPqIndex]]-built index carries its
    // encoding as a marker column — a mismatch would not error, it
    // would serve garbage scores (wrong math for the stored codes).
    // Checked LAZILY inside the query plan (every probed row asserts
    // its marker as part of producing `id`), so a mixed-flavor index
    // (e.g. a union of two builds) fails loudly on any probed wrong-
    // flavor row, and a not-yet-materialized index plan is never
    // forced eagerly just to read one row (r16 self-review). Hand-
    // built index frames without the marker skip the check — the
    // caller owns the agreement then.
    val idChecked =
      if (index.columns.contains("residual"))
        when(assert_true(col("residual") === lit(residual),
          lit(s"ivfPqQuery(residual = $residual) over an index row " +
            "encoded with the opposite flavor — the ADC math would " +
            "score garbage; match the index's flavor")).isNull,
          col("id")).as("id")
      else col("id")
    val scored = index
      .join(broadcast(probes), "cell")
      .select(col("q_id") +: idChecked +:
        posexplode(col("codes")).as(Seq("s", "code")) +:
        (if (residual) Seq(col("cdot")) else Seq.empty): _*)
      .join(broadcast(tab), Seq("q_id", "s", "code"))
      .where(if (excludeSelf) col("id") =!= col("q_id") else lit(true))
      .groupBy("q_id", "id")
    val adc =
      if (residual)
        // cdot is constant within the (q_id, id) group — a vector
        // lives in exactly one cell, so max == the constant
        scored.agg((sum(col("partial")) + max(col("cdot"))).as("adc"))
      else scored.agg(sum(col("partial")).as("adc"))
    adc
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "adc")
  }

  /** Exact re-rank of an ANN candidate shortlist: re-score every
    * `(q_id, id)` candidate by the TRUE inner product against the
    * full-precision corpus vector and keep the top-k per query —
    * the standard second stage behind any quantized first stage
    * (FAISS's refine/`k_factor` idiom). ADC scores rank by
    * `q·recon(v)`, and the reconstruction error is what caps recall:
    * past the point where the PQ cell size exceeds the margin between
    * true neighbors, MORE candidates stop helping (noise out-ranks
    * the true NN inside the approximate top-k — measured in SCALING
    * probe 33, where recall fell as nprobe rose). Re-ranking a
    * shortlist of R ≫ k candidates converts that regime back into
    * "recall = P(true NN reaches the shortlist)", which the routing
    * dials control.
    *
    * `candidates` needs `q_id` and `id` columns (the [[pqQuery]]/
    * [[ivfPqQuery]] output shape). Returns `(q_id, rank, id, dot)`,
    * ties → lowest id.
    *
    * Scale shape: the candidate×query frame is (queries × R) rows —
    * it BROADCASTS into one pass over the corpus store (no corpus
    * shuffle, no index rebuild); the exact dot runs only on corpus
    * rows that survive the broadcast join, i.e. ≤ queries × R rows'
    * worth of vector reads, and the final top-k is a window over the
    * same tiny frame. The added cost is one corpus scan's worth of
    * I/O — on an id-bucketed store the join prunes to the candidate
    * buckets and even that scan is partial.
    */
  def rerankExact(candidates: DataFrame, embeddings: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = candidates.sparkSession
    graft.functions.DotProduct.register(spark)
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    // dedup defensively: a unioned/concatenated shortlist with repeated
    // (q_id, id) rows would otherwise occupy several of the k result
    // slots with copies of one candidate; the frame is queries × R
    // rows, so the distinct costs nothing
    val cand = candidates.select(col("q_id"), col("id")).distinct()
      .join(q, "q_id")
    val corpus = embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("_graft_rv"))
    val wTop = Window.partitionBy("q_id").orderBy(col("dot").desc, col("id"))
    corpus.join(broadcast(cand), "id")
      .withColumn("dot",
        call_function("dot_product", col("qv"), col("_graft_rv")))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "dot")
  }

  /** IVFADC serving with an exact re-rank tail: [[ivfPqQuery]] pulls
    * an ADC shortlist of `shortlist ≥ k` candidates per query, then
    * [[rerankExact]] re-scores the shortlist against the raw vectors
    * and keeps the true top-k of it. Returns `(q_id, rank, id, dot)`.
    *
    * Dial guidance (probes 33/35): `shortlist` buys back the recall
    * the PQ resolution (m) gives up — raising it is far cheaper than
    * raising m (the index stays compressed; the rerank reads only
    * `queries × shortlist` raw vectors). The two dials FACTORIZE:
    * recall = cell-hit(nprobe) × P(true NN in the shortlist | cell
    * probed). Probe 35 measured the second factor's knee at
    * `shortlist` ≈ 10-20 % of expected cluster occupancy
    * (corpus / centers) — constant recall at constant
    * shortlist/occupancy across a 4× density change — and a hard
    * ceiling from the first: once the recall-vs-shortlist sweep goes
    * flat, the binding dial is nprobe, never a deeper shortlist.
    * Size by occupancy, not by k.
    */
  def ivfPqQueryRerank(index: DataFrame, centroids: DataFrame,
      centIdCol: String, centVecCol: String, codebooks: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, shortlist: Int, excludeSelf: Boolean = false,
      residual: Boolean = true): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) — the rerank can only " +
        "reorder what the ADC stage surfaced")
    val sl = ivfPqQuery(index, centroids, centIdCol, centVecCol, codebooks,
      queries, qIdCol, qVecCol, shortlist, nprobe, excludeSelf, residual)
    rerankExact(sl, embeddings, idCol, vecCol, queries, qIdCol, qVecCol, k)
  }

  /** Per-dimension quantization bounds for the SQ8 scalar quantizer
    * (QT_8bit-STYLE, not bit-compatible with FAISS: this variant uses
    * 256 floor-levels with a clamp at 255 — `floor((x−lo)/span·256)`
    * — while FAISS's Codec8bit scales by 255 (`code = floor(255·x)`,
    * `recon = (code+0.5)/255`), so codes and reconstructions are
    * internally consistent here but do not round-trip FAISS
    * artifacts): `(d, lo, hi)`
    * over the usable vectors — one map-side-combinable contraction to
    * `dim` rows (each partition emits at most dim partial min/max
    * pairs, so the exchange is dim-bounded regardless of corpus
    * size). min/max are exact and order-free: the fit is bit-
    * deterministic under any partitioning, no seed rule needed —
    * the whole reason SQ is the simplest member of the quantizer
    * ladder (flat → SQ8 → PQ → IVFPQ).
    */
  def sqBounds(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame =
    sqUsable(embeddings, idCol, vecCol, dim)
      .select(posexplode(col("vec")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      // fit provenance (the PQ fit_residual discipline): raw-fitted
      // bounds composed with residual encoding (or vice versa) clamp
      // against the wrong input distribution — [[ivfSqIndex]]/
      // [[ivfSqQuery]] check the marker and refuse a flavor mismatch
      .withColumn("fit_residual", lit(false))

  /** The SQ usable rule is STRICTER than [[usablePqVectors]]: one
    * ±inf element would set that dimension's bound to ±inf and poison
    * every vector's reconstruction in that dimension (span = inf ⟹
    * recon = NaN corpus-wide), so non-finite elements exclude the
    * whole vector from both the fit and the encode — the
    * validateEmbeddings quarantine is where such rows surface.
    */
  private def sqUsable(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int): DataFrame =
    usablePqVectors(embeddings, idCol, vecCol, dim)
      .where(!exists(col("vec"), x => abs(x) > lit(Double.MaxValue)))

  /** The dim-row bounds frame as ONE broadcastable row of `(lo[],
    * span[])` arrays, index-aligned with the vector dimensions.
    */
  private def sqBoundArrays(bounds: DataFrame): DataFrame =
    bounds.agg(
      transform(array_sort(collect_list(struct(col("d"), col("lo")))),
        t => t.getField("lo")).as("_graft_lo"),
      transform(array_sort(collect_list(struct(col("d"),
          (col("hi") - col("lo")).as("span")))),
        t => t.getField("span")).as("_graft_span"))

  /** The k×dim PER-CELL bounds frame as k broadcastable rows of
    * `(cell, lo[], span[])` — the [[ivfSqBoundsPerCell]] layout's
    * join side.
    */
  private def sqBoundArraysPerCell(bounds: DataFrame): DataFrame =
    bounds.groupBy("cell").agg(
      transform(array_sort(collect_list(struct(col("d"), col("lo")))),
        t => t.getField("lo")).as("_graft_lo"),
      transform(array_sort(collect_list(struct(col("d"),
          (col("hi") - col("lo")).as("span")))),
        t => t.getField("span")).as("_graft_span"))

  /** The SQ8 level pick as a column over (`vec`, `_graft_lo`,
    * `_graft_span`) — shared verbatim by the global-bounds
    * [[sqEncode]] and the per-cell encode inside [[ivfSqIndex]], so
    * the two layouts cannot drift on the clamp/floor/shift math.
    */
  private def sqCodesCol: Column =
    zip_with(col("vec"),
      zip_with(col("_graft_lo"), col("_graft_span"),
        (l, s) => struct(l.as("lo"), s.as("span"))),
      (x, b) => (when(b.getField("span") === 0d, lit(0.0))
        .otherwise(least(lit(255.0), greatest(lit(0.0),
          floor((x - b.getField("lo")) / b.getField("span") *
            lit(256.0)))))
        - lit(128.0)).cast("byte"))

  /** SQ8 encode: every usable vector becomes `dim` SIGNED BYTES —
    * `code_d = clamp(floor((v_d − lo_d) / span_d × 256), 0, 255) −
    * 128` stored as tinyint (the −128 shift makes the 0..255 level
    * fit parquet's signed int8, so the stored index is literally
    * dim bytes per vector: 8× smaller than float64, 4× smaller than
    * float32 — SQ's entire value is scan I/O, not compute). A
    * constant dimension (span = 0) encodes level 0 and reconstructs
    * at `lo`. Returns `(id, codes: array<tinyint>)`.
    *
    * Scale shape: ONE corpus pass with the 1-row bounds arrays
    * broadcast; per-element integer math inside whole-stage codegen;
    * nothing shuffles.
    */
  def sqEncode(embeddings: DataFrame, idCol: String, vecCol: String,
      bounds: DataFrame, dim: Int): DataFrame =
    sqUsable(embeddings, idCol, vecCol, dim)
      .crossJoin(broadcast(sqBoundArrays(bounds)))
      .select(col("id"), sqCodesCol.as("codes"))

  /** SQ8 top-k serving: reconstruct `v̂_d = lo_d + (code_d + 128 +
    * 0.5) × span_d / 256` per code row (query-independent — computed
    * once per corpus row, not per pair) and rank by the codegen'd
    * `q·v̂`. Returns `(q_id, rank, id, score)`, ties → lowest id.
    *
    * Scale shape: one pass over the BYTE-sized code store with the
    * query set broadcast — same compute shape as the flat scan, at
    * ⅛ the scan I/O; SQ is the in-cell scorer to compose with
    * [[ivfIndex]] routing when sublinearity is needed, exactly like
    * [[pqQuery]]. Against PQ at the same corpus: 64 bytes/vector vs
    * m=8's 8 bytes — SQ spends 8× the memory to keep per-dimension
    * resolution, which is why its recall sits near the flat scan's
    * while PQ's needs an exact re-rank tail ([[rerankExact]]).
    */
  def sqQuery(codes: DataFrame, bounds: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = codes.sparkSession
    graft.functions.DotProduct.register(spark)
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val wTop = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
    codes.crossJoin(broadcast(sqBoundArrays(bounds)))
      .select(col("id"),
        zip_with(
          zip_with(col("_graft_lo"), col("_graft_span"),
            (l, s) => struct(l.as("lo"), s.as("span"))),
          col("codes"),
          (b, c) => b.getField("lo") +
            (c.cast("double") + lit(128.0) + lit(0.5)) *
              b.getField("span") / lit(256.0)).as("recon"))
      .crossJoin(broadcast(q))
      .where(if (excludeSelf) col("id") =!= col("q_id") else lit(true))
      .withColumn("score",
        call_function("dot_product", col("qv"), col("recon")))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "score")
  }

  /** SQ8 bounds fitted on coarse RESIDUALS — the bounds an IVF×SQ
    * index ([[ivfSqIndex]] with `residual = true`, the default) must
    * be fitted with: [[ivfResiduals]] then [[sqBounds]] over the
    * `rvec` column, marked `fit_residual = true` so the index/query
    * stages can refuse a flavor mix-up. Residuals concentrate around
    * the origin with far smaller per-dimension spread than raw
    * vectors (the same effect that makes IVFADC beat flat PQ at equal
    * bits — Jégou/Douze/Schmid 2011 §III), so the 256 levels of the
    * scalar quantizer land on a tighter span: a finer effective
    * quantizer from the same byte budget. Still exact order-free
    * min/max — bit-deterministic under any partitioning.
    */
  def ivfSqBounds(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      dim: Int): DataFrame =
    sqBounds(
      ivfResiduals(embeddings, idCol, vecCol, centroids, centIdCol,
        centVecCol).select(col("id"), col("rvec")),
      "id", "rvec", dim)
      .withColumn("fit_residual", lit(true))

  /** PER-CELL SQ8 bounds over coarse residuals — `(cell, d, lo, hi,
    * fit_residual)`, k×dim rows: every cell gets its OWN quantizer
    * window, so the step size is that cell's residual spread instead
    * of the corpus-wide min/max. Probe 37 is why this layout exists:
    * under a real (even perfectly-seeded) spherical fit the GLOBAL
    * residual span never contracts (×1.2 vs the planted fit's ×18) —
    * the spherical centroid is unit-normalized, so every cell's
    * residuals sit at a norm-dependent per-cell OFFSET and the global
    * window must cover all offsets — while the per-cell spans are
    * uniformly at noise scale (probe 37: p99 cell span 0.034 vs 0.83
    * global, ×24 finer steps from the same byte budget). FAISS ships
    * the same idea as IndexIVFScalarQuantizer's per-list trained
    * quantizer. Same exact order-free min/max — bit-deterministic
    * under any partitioning; the bounds frame is k×dim rows (still
    * broadcastable for any practical k). Feed to [[ivfSqIndex]] /
    * [[ivfSqQuery]], which detect the `cell` column and join bounds
    * by cell; the flavor is residual-only (a raw per-cell window
    * would re-center nothing and is refused).
    */
  def ivfSqBoundsPerCell(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String, dim: Int): DataFrame =
    ivfResiduals(embeddings, idCol, vecCol, centroids, centIdCol,
        centVecCol)
      .select(col("cell"), col("rvec").as("vec"))
      // the sqUsable strict rule at cell grain: one ±inf element
      // would poison its own CELL's window (not the corpus's, but
      // the same NaN-recon failure)
      .where(size(col("vec")) === dim &&
        !exists(col("vec"), x => x.isNull || isnan(x)) &&
        !exists(col("vec"), x => abs(x) > lit(Double.MaxValue)))
      .select(col("cell"), posexplode(col("vec")).as(Seq("d", "x")))
      .groupBy("cell", "d").agg(min("x").as("lo"), max("x").as("hi"))
      .withColumn("fit_residual", lit(true))

  /** Default cap on bounds rows collected to the driver by
    * [[ivfSqIndex]]/[[ivfSqQuery]] — 1 M rows ≈ k = 8192 cells at
    * dim = 128, a few hundred MB decoded. See [[collectBoundsLocal]].
    */
  val MaxBoundsRows: Int = 1 << 20

  /** ONE evaluation of a bounds-fit plan into a driver LocalRelation,
    * with a LOUD row cap BEFORE the driver holds the decoded Rows:
    * global bounds are dim rows, but per-cell bounds are k×dim and k
    * is uncapped on this path (the 512 ceiling guards kcenter seeding
    * only) — at the k ≈ √n a 100 TB IVF wants, an unguarded collect
    * is the same driver-heap hazard dimEnrichSink caps with
    * maxDimBytes (r19 ADVICE; Row decode runs 5-10× the parquet
    * bytes). `limit(cap + 1)` keeps the check one pass: under the cap
    * the limited result IS the full frame.
    */
  private def collectBoundsLocal(bounds: DataFrame, caller: String,
      maxRows: Int): (Array[org.apache.spark.sql.Row], DataFrame) = {
    require(maxRows > 0, s"$caller: maxBoundsRows must be positive")
    val rows = bounds.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$caller: the bounds frame holds more than maxBoundsRows = " +
        s"$maxRows rows (per-cell bounds are k×dim rows; the driver " +
        "Row decode runs 5-10x the parquet bytes) — refit with fewer " +
        "cells, or pass a larger maxBoundsRows to accept the driver " +
        "copy explicitly")
    (rows, bounds.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), bounds.schema))
  }

  /** The IVF×SQ8 index — the best-recall-per-byte serving point of
    * the quantizer ladder (probe 33: flat SQ8 recall 1.000 at 7.54×
    * compression; this rung adds [[ivfIndex]] routing for
    * sublinearity, the composition [[sqQuery]]'s own docs promise):
    * every vector carries its coarse cell AND its `dim` signed-byte
    * SQ codes — `(id, cell, codes, residual)`. Built in ONE corpus
    * pass exactly like [[ivfPqIndex]]: the cell assignment rides
    * through the SQ encode as part of a struct id, so the two indexes
    * compose without a corpus-sized self-join. Store bucketed by
    * `cell` ([[writeIvfIndex]]-style) and [[ivfSqQuery]] probes scan
    * exchange-free.
    *
    * `residual = true` (default) encodes `vec − centroid(cell)` —
    * pass bounds fitted by [[ivfSqBounds]]; `residual = false`
    * SQ-encodes the raw vector (bounds from [[sqBounds]]); full-probe
    * serving then equals flat [[sqQuery]] exactly (spec-pinned). The
    * index carries its flavor as a constant marker column and both
    * stages refuse a mismatch — decoding residual codes with
    * raw-vector math scores garbage SILENTLY (the ivfPqIndex r16
    * lesson).
    */
  def ivfSqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      bounds: DataFrame, dim: Int, residual: Boolean = true,
      maxBoundsRows: Int = MaxBoundsRows): DataFrame = {
    val perCell = bounds.columns.contains("cell")
    require(!perCell || residual,
      "ivfSqIndex(residual = false) over PER-CELL bounds — the per-cell " +
        "window exists to absorb each cell's residual offset; raw " +
        "vectors share one distribution, fit sqBounds instead")
    // the bounds FRAME is dim (global) or k×dim (per-cell) rows but
    // its PLAN is the corpus-wide min/max fit — so collect it ONCE to
    // a LocalRelation here and share that one evaluation between the
    // provenance check and the encode plan (r18 ADVICE: checking via
    // its own distinct().collect() and then re-running the fit inside
    // sqBoundArrays paid the fit up to 3x per build+serve). The
    // collect is row-capped (r19 ADVICE) — see collectBoundsLocal.
    val (boundsRows, boundsLocal) =
      collectBoundsLocal(bounds, "ivfSqIndex", maxBoundsRows)
    // bounds-provenance agreement; hand-built bounds without the
    // marker skip the check — the caller owns the agreement then
    if (bounds.columns.contains("fit_residual")) {
      val i = bounds.schema.fieldIndex("fit_residual")
      val flavors = boundsRows.map(_.getBoolean(i)).toSet
      require(flavors == Set(residual),
        s"ivfSqIndex(residual = $residual) over bounds fitted with " +
          s"fit_residual in {${flavors.mkString(", ")}} — fit with " +
          (if (residual) "ivfSqBounds (residual-fitted)"
           else "sqBounds (raw-fitted)") +
          " so the quantizer clamps the distribution it was fitted on")
    }
    val assigned =
      if (residual)
        ivfResiduals(embeddings, idCol, vecCol,
            centroids, centIdCol, centVecCol)
          .select(struct(col("id"), col("cell")).as("idc"),
            col("rvec").as("vec"))
      else
        ivfIndex(embeddings, idCol, vecCol,
            centroids, centIdCol, centVecCol)
          .select(struct(col("id"), col("cell")).as("idc"), col("vec"))
    val coded =
      if (perCell)
        // the per-cell window rides a k-row broadcast join on the
        // row's own cell; level math is the SHARED sqCodesCol. LEFT
        // join + loud assert: a vector routing to a cell the frozen
        // fit never saw (possible under ivfSqIndexSink's frozen
        // artifacts) must fail the batch, not silently vanish
        sqUsable(assigned, "idc", "vec", dim)
          .join(broadcast(sqBoundArraysPerCell(boundsLocal)
              .withColumnRenamed("cell", "_graft_bcell")),
            col("id").getField("cell") === col("_graft_bcell"), "left")
          .select(col("id"),
            when(assert_true(col("_graft_bcell").isNotNull,
              lit("ivfSqIndex: a vector routed to a cell with no " +
                "per-cell bounds row — the (frozen) fit never saw " +
                "this cell; re-fit ivfSqBoundsPerCell or fall back " +
                "to global ivfSqBounds")).isNull,
              sqCodesCol).as("codes"))
      else sqEncode(assigned, "idc", "vec", boundsLocal, dim)
    coded
      .select(col("id").getField("id").as("id"),
        col("id").getField("cell").as("cell"), col("codes"),
        lit(residual).as("residual"))
  }

  /** IVF×SQ8 top-k serving: probe the `nprobe` nearest cells per
    * query (broadcast centroid argmax, the [[ivfQuery]] routing),
    * then score ONLY the probed cells' vectors by `q·v̂` against the
    * SQ8 mid-level reconstruction — sublinear scan over an
    * 8×-compressed operand (vs float64) that keeps PER-DIMENSION
    * resolution, which is why SQ needs no rerank tail where PQ does
    * (probe 33). Returns `(q_id, rank, id, score)`.
    *
    * `residual = true` (default) serves a residual-encoded index:
    * `v̂ = centroid(cell) + recon(residual codes)` — the centroid
    * array rides the (already broadcast) probe list, and the score is
    * ONE dot fold over `cv + recon` (bit-identical to the gate/oracle
    * composition, spec-pinned). Must match the index's flavor; the
    * marker check rides the query plan lazily like [[ivfPqQuery]]'s.
    *
    * Scale shape: centroids, the probe list (with its cv arrays —
    * queries × nprobe rows), the 1-row bounds arrays, and the query
    * set all broadcast; the index side is ONE scan with a broadcast
    * SEMI-join on the probed-cell set BELOW the decode, so only
    * probed-cell rows pay the per-element reconstruction, and on a
    * cell-partitioned store dynamic partition pruning lifts the
    * semi-join to file-level pruning (an unpartitioned store still
    * reads all cells' bytes — the decode, not the read, is what the
    * semi-join always prunes); per-element integer reconstruction
    * inside whole-stage codegen; nothing corpus-sized shuffles.
    * Bounds are collected once at construction (dim rows — but their
    * PLAN may be the corpus-wide fit, so callers get exactly one fit
    * evaluation per serve; persist the fit output to amortize across
    * serves). nprobe sizing per probe 33: size for cell-hit
    * probability — SQ's reconstruction noise is half a level per
    * dimension, so unlike PQ the wider probe does not poison the
    * top-k with out-ranking noise.
    */
  def ivfSqQuery(index: DataFrame, centroids: DataFrame,
      centIdCol: String, centVecCol: String, bounds: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int, excludeSelf: Boolean = false,
      residual: Boolean = true,
      maxBoundsRows: Int = MaxBoundsRows): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val perCell = bounds.columns.contains("cell")
    require(!perCell || residual,
      "ivfSqQuery(residual = false) over PER-CELL bounds — no raw " +
        "per-cell flavor exists (see ivfSqBoundsPerCell); match the fit")
    // one row-capped evaluation of the (possibly corpus-fit) bounds
    // plan, shared by the provenance check and the serve plan's
    // sqBoundArrays — the ivfSqIndex discipline (r18 + r19 ADVICE)
    val (boundsRows, boundsLocal) =
      collectBoundsLocal(bounds, "ivfSqQuery", maxBoundsRows)
    if (bounds.columns.contains("fit_residual")) {
      val i = bounds.schema.fieldIndex("fit_residual")
      val flavors = boundsRows.map(_.getBoolean(i)).toSet
      require(flavors == Set(residual),
        s"ivfSqQuery(residual = $residual) over bounds fitted with " +
          s"fit_residual in {${flavors.mkString(", ")}} — the " +
          "reconstruction would decode against the wrong distribution; " +
          "match the fit flavor")
    }
    val spark = index.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.DotProduct.register(spark)
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).cast("array<double>").as("cv"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("ccos", call_function("cosine_sim", col("cv"), col("qv")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"))
    // index flavor agreement, checked LAZILY inside the plan (the
    // ivfPqQuery discipline): every probed row asserts its marker as
    // part of producing `id`, so a mixed-flavor union fails loudly on
    // any probed wrong-flavor row without forcing the index eagerly.
    val idChecked =
      if (index.columns.contains("residual"))
        when(assert_true(col("residual") === lit(residual),
          lit(s"ivfSqQuery(residual = $residual) over an index row " +
            "encoded with the opposite flavor — the reconstruction " +
            "would decode garbage; match the index's flavor")).isNull,
          col("id")).as("id")
      else col("id")
    val wTop = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
    val recon = zip_with(
      zip_with(col("_graft_lo"), col("_graft_span"),
        (l, s) => struct(l.as("lo"), s.as("span"))),
      col("codes"),
      (b, cd) => b.getField("lo") +
        (cd.cast("double") + lit(128.0) + lit(0.5)) *
          b.getField("span") / lit(256.0))
    // v̂ is QUERY-INDEPENDENT — reconstructed once per index row in a
    // projection BELOW the probe join (the sqQuery/gate-recon-CTE
    // discipline; for the residual flavor the cell centroid arrives
    // via the ≤k-row broadcast), so a cell probed by many queries
    // never re-pays the per-element decode per (row, query) pair.
    // The broadcast SEMI-join on the probed-cell set runs BELOW the
    // decode (r18 ADVICE: the projection previously reconstructed
    // every index row, probed or not): only probed-cell rows pay the
    // per-element decode and the flavor assert, and on a
    // cell-partitioned store dynamic partition pruning turns the
    // semi-join into file-level pruning — that is where the
    // ~nprobe/cells scan-I/O scaling is realized.
    val probedCells = probes.select("cell").distinct()
    val indexProbed =
      index.join(broadcast(probedCells), Seq("cell"), "left_semi")
    // per-cell bounds ride a k-row broadcast join on the row's cell;
    // LEFT + loud assert (r19 review): serving with a RE-FITTED
    // bounds frame that lacks a probed cell (same flavor marker, so
    // the provenance check passes) must refuse, not silently drop
    // every row of that cell from the ranking — the build side's
    // unseen-cell rule, mirrored. Global bounds stay the 1-row
    // cross join
    def withBounds(df: DataFrame): DataFrame =
      if (perCell)
        df.join(broadcast(sqBoundArraysPerCell(boundsLocal)),
          Seq("cell"), "left")
      else df.crossJoin(broadcast(sqBoundArrays(boundsLocal)))
    def guarded(v: Column): Column =
      if (perCell)
        when(assert_true(col("_graft_lo").isNotNull,
          lit("ivfSqQuery: a probed index row's cell has no per-cell " +
            "bounds row — serve-time bounds must cover every indexed " +
            "cell (serve with the build's fit, or re-fit covering all " +
            "cells); refusing rather than silently dropping the cell"))
          .isNull, v)
      else v
    val reconed =
      if (residual)
        withBounds(indexProbed
          .join(broadcast(c.select(col("cent_id").as("cell"), col("cv"))),
            "cell"))
          .select(col("cell"), idChecked,
            guarded(zip_with(col("cv"), recon, (a, b) => a + b)).as("vhat"))
      else
        withBounds(indexProbed)
          .select(col("cell"), idChecked, guarded(recon).as("vhat"))
    reconed
      .join(broadcast(probes), "cell")
      .where(if (excludeSelf) col("id") =!= col("q_id") else lit(true))
      .withColumn("score",
        call_function("dot_product", col("qv"), col("vhat")))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .select("q_id", "rank", "id", "score")
  }

  /** The Count-Min Sketch bucket for one (depth-row, term) pair: the
    * depth index salts the shared [[graft.functions.PolyHashStr]]
    * polynomial (cross-engine replayable, unlike xxhash64), so the
    * `depth` hash rows are distinct functions of the term.
    */
  private def cmsBucket(d: Column, term: Column, width: Int): Column =
    pmod(call_function("poly_hash",
      concat(d.cast("string"), lit("|"), term)), lit(width.toLong))

  /** SIZE the Count-Min dials from the accuracy contract — the
    * published (ε, δ) → (depth, width) rule (Cormode/Muthukrishnan
    * 2005): `width = ⌈e/ε⌉` makes every point estimate overshoot by
    * at most εN (N = total ingested count) with per-row probability
    * ≥ 1 − 1/e, and `depth = ⌈ln(1/δ)⌉` independent rows drive the
    * failure probability down to δ (the estimate is the min over
    * rows, so ALL rows must overshoot for the bound to break).
    *
    * `maxBytes` is the loud-cap guard (the [[minhashBanding]] maxK
    * convention, r17 verdict item 4): counters are longs, so the
    * sketch costs depth × width × 8 bytes — an ε of 10⁻⁸ prices at
    * ~2.2 GB × depth, past any sane broadcast. The refusal names the
    * price; relax ε (the linear dial — δ only costs log) or accept a
    * bigger sketch explicitly. At the default 64 MB cap the tightest
    * ε at δ = 10⁻³ (depth 7) is ≈ 2.3 × 10⁻⁶ — plenty for
    * heavy-hitter work at any corpus size, since the bound scales
    * with N anyway.
    */
  def cmsDials(eps: Double, delta: Double,
      maxBytes: Long = 64L << 20): (Int, Int) = {
    require(eps > 0 && eps < 1, s"eps must be in (0, 1), got $eps")
    require(delta > 0 && delta < 1, s"delta must be in (0, 1), got $delta")
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    val width = math.ceil(math.E / eps).toLong
    val depth = math.max(1L, math.ceil(math.log(1.0 / delta)).toLong)
    // a caller who RAISES maxBytes past ~17 GB could otherwise sail
    // through the byte cap into an Int wraparound below (r18 review):
    // the loud-cap function must never return garbage dials
    require(width <= Int.MaxValue,
      s"cmsDials(eps = $eps) needs width = $width buckets > Int.MaxValue " +
        "— no single sketch should be this wide; relax eps")
    val bytes = depth * width * 8
    require(bytes <= maxBytes,
      s"cmsDials(eps = $eps, delta = $delta) needs a ${depth}x$width " +
        s"sketch = $bytes bytes > maxBytes = $maxBytes — relax eps " +
        "(width = ceil(e/eps) is the linear dial; delta only costs " +
        "log) or pass a larger maxBytes to accept the sketch size " +
        "explicitly")
    (depth.toInt, width.toInt)
  }

  /** COUNT-MIN SKETCH build (Cormode/Muthukrishnan 2005): fold a
    * term stream into `depth × width` integer counters —
    * `(d, bucket, n)`. The bounded-memory frequency primitive for
    * when the term dictionary is itself corpus-sized (the #38/#90
    * exact shapes): state is `depth × width` longs TOTAL, regardless
    * of corpus size or cardinality.
    *
    * Properties the spec pins: estimates NEVER underestimate
    * (collisions only add); overestimate ≤ εN w.h.p. (ε = e/width);
    * counters are pure ADDITIVE contractions — merge-order-free,
    * partition-invariant, and additive under any corpus split
    * (`sketch(a ∪ b) = sketch(a) + sketch(b)` bucket-wise), which is
    * the distributed-fold/streaming property for free.
    *
    * Scale shape: one pass over the depth-replicated term stream,
    * map-side combine contracts each partition to ≤ depth×width
    * partial rows before the single exchange.
    */
  def cmsSketch(terms: DataFrame, termCol: String, depth: Int,
      width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"bad CMS dials: $depth x $width")
    graft.functions.PolyHashStr.register(terms.sparkSession)
    terms.select(col(termCol).as("_graft_t"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .where(col("_graft_t").isNotNull)
      .select(col("d"), cmsBucket(col("d"), col("_graft_t"), width).as("bucket"))
      .groupBy("d", "bucket").agg(count(lit(1)).as("n"))
      // dial provenance (the PQ fit_residual discipline): estimates
      // against a sketch built at DIFFERENT dials would silently read
      // the wrong buckets — the marker lets cmsEstimate refuse
      .withColumn("cms_depth", lit(depth))
      .withColumn("cms_width", lit(width))
  }

  /** CMS point estimates: each queried term's count estimate is the
    * MIN of its `depth` bucket counters — `(term, n_cms)`; a term
    * whose buckets were never touched reads 0, not null. The sketch
    * frame is depth×width rows and BROADCASTS when that fits — above
    * `maxBroadcastCounters` (default 2²⁴ ≈ 128 MB of longs; a
    * corpus-vocabulary width ≈ e/ε can legitimately exceed any
    * broadcast budget, r17 verdict item 4) the join falls through to
    * a plain shuffle join, which at that sketch size is the right
    * plan, not a failure. The query side scans once either way.
    * `depth`/`width` must match the build dials (the bucket function
    * is re-derived from them); size them with [[cmsDials]].
    */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, termCol: String,
      depth: Int, width: Int,
      maxBroadcastCounters: Long = 1L << 24): DataFrame = {
    graft.functions.PolyHashStr.register(terms.sparkSession)
    // dial agreement with the build (markers present on any
    // cmsSketch-built frame; the sketch is depth×width rows, so the
    // distinct read is driver-cheap). Hand-built frames without the
    // markers skip the check — the caller owns the agreement then.
    if (sketch.columns.contains("cms_depth")) {
      val dials = sketch.select(col("cms_depth"), col("cms_width"))
        .distinct().collect()
      // an EMPTY sketch (every ingested doc tokenized to nothing) has
      // the markers but no rows — valid CMS state whose every
      // estimate correctly reads 0 below; only a PRESENT disagreeing
      // dial is a misuse (r17 review)
      require(dials.length <= 1 && dials.forall(r =>
        r.getInt(0) == depth && r.getInt(1) == width),
        s"cmsEstimate(depth = $depth, width = $width) over a sketch " +
          s"built at ${dials.map(r => s"${r.getInt(0)}x${r.getInt(1)}")
            .mkString(", ")} — the bucket function would read the " +
          "wrong counters; match the build dials")
    }
    val sketchSide =
      if (depth.toLong * width <= maxBroadcastCounters) broadcast(sketch)
      else sketch
    terms.select(col(termCol).as("term"))
      .where(col("term").isNotNull)
      .select(col("term"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .withColumn("bucket", cmsBucket(col("d"), col("term"), width))
      .join(sketchSide, Seq("d", "bucket"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("n"), lit(0L))).as("n_cms"))
  }

  /** (m, subDim) of a fitted codebook frame — driver metadata reads
    * over the m×k-row codebook only (the k-bounded convention).
    */
  private def pqShape(codebooks: DataFrame): (Int, Int) = {
    val m = codebooks.agg(countDistinct(col("subspace"))).head.getLong(0).toInt
    require(m > 0, "pq codebook frame is empty")
    val sub = codebooks.select(size(col("cw"))).head.getInt(0)
    (m, sub)
  }

  /** The PQ usable-vector rule: declared dim, no null/NaN elements
    * (a NaN would poison every distance it touches; dim skew would
    * slice garbage subvectors).
    */
  private def usablePqVectors(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int): DataFrame =
    embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .where(size(col("vec")) === dim &&
        !exists(col("vec"), x => x.isNull || isnan(x)))

  /** `(id, s, sv)` — one row per (vector, subspace), the grain both
    * the fit and the encode assign codes at. The explode is a literal
    * m-element array per row (no shuffle).
    */
  private def explodeSubvectors(e: DataFrame, m: Int, sub: Int): DataFrame =
    e.select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col("vec"), s * sub + 1, sub).as("sv"))): _*)).as("p"))
      .select(col("id"), col("p").getField("s").as("s"),
        col("p").getField("sv").as("sv"))

  /** Incremental SemDeDup verdicts (the per-ingest form of
    * `q_dedup_semantic`, #103): for a batch of NEW vectors, the drop
    * list against a STORED [[ivfIndex]] plus within-batch smaller-id
    * twins. A new vector drops iff it has a ≥τ cosine twin in its
    * cell — any stored twin (the store is canon regardless of id
    * order) or a smaller-id batch twin. Output matches
    * `semanticDropList`: `(vec_id, cell, dup_of_ct, max_cos)`, one
    * row per dropped NEW vector; on disjoint id ranges with the store
    * below the batch, the verdicts equal the full-corpus run's batch
    * slice exactly (IvfIndexSpec pins this).
    *
    * Scale shape: the batch assigns cells via the [[ivfIndex]]
    * broadcast argmax (no corpus contact), and the store joins keyed
    * on `cell` — a [[writeIvfIndex]] bucketed table satisfies that
    * distribution from the scan, so the store side never shuffles
    * (spec-asserted bucketed-vs-plain, the `incrementalPairsStored`
    * discipline); everything that shuffles is O(batch). Per ingest
    * the store is scanned once.
    */
  def semanticDedupIncremental(index: DataFrame, centroids: DataFrame,
      centIdCol: String, centVecCol: String,
      batch: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    graft.functions.CosineSimilarity.register(batch.sparkSession)
    val bIdx = ivfIndex(batch, idCol, vecCol, centroids, centIdCol,
      centVecCol)
    val nw = bIdx.select(col("cell"), col("id").as("new_id"),
      col("vec").as("nv"))
    def twins(old: DataFrame, pred: Column): DataFrame = nw
      .join(old, Seq("cell"))
      .where(pred)
      .withColumn("cos", call_function("cosine_sim", col("nv"), col("ov")))
      .where(col("cos") >= tau)
      .select(col("new_id"), col("cell"), col("cos"))
    val vsStore = twins(index.select(col("cell"), col("id").as("old_id"),
      col("vec").as("ov")), lit(true))
    val vsBatch = twins(bIdx.select(col("cell"), col("id").as("old_id"),
      col("vec").as("ov")), col("old_id") < col("new_id"))
    vsStore.unionByName(vsBatch)
      .groupBy(col("new_id").as("vec_id"))
      .agg(first(col("cell")).as("cell"),
        count(lit(1)).as("dup_of_ct"),
        max(col("cos")).cast("double").as("max_cos"))
      .orderBy("vec_id")
  }

  /** Embedding validity audit — the executable form of "validate
    * upstream" that every similarity/ANN op's dirty-vector rule points
    * at. Returns ONLY the invalid rows, each with an `issue` column:
    * `null_vec` (no vector), `bad_dim` (when `expectedDim` is given),
    * `null_element` (an array slot holding NULL — it nulls every
    * cosine the row touches), `nan_element` (any NaN component — the
    * one corruption the cosine NULL rule silently absorbs but the
    * DuckDB oracles cannot see), `inf_element` (±Infinity — isnan is
    * false for it, yet it poisons dot products to ±Inf/NaN), and
    * `zero_norm` (all-zero vector, an undefined cosine). First match
    * wins in that order. Map-side and shuffle-free — one scan with
    * per-row array lambdas, no join, no aggregate — so it composes
    * into any ingest path for free; an empty result certifies the
    * corpus for [[ivfIndex]]/[[kmeansCentroids]]/top-k.
    */
  def validateEmbeddings(df: DataFrame, vecCol: String,
      expectedDim: Option[Int] = None): DataFrame = {
    require(!df.columns.contains("issue"),
      "validateEmbeddings emits an 'issue' column; rename the input's first")
    val v = col(vecCol).cast("array<double>")
    val dimBad = expectedDim
      .map(d => size(v) =!= lit(d)).getOrElse(lit(false))
    df.withColumn("issue",
        when(col(vecCol).isNull, "null_vec")
          .when(dimBad, "bad_dim")
          .when(exists(v, x => x.isNull), "null_element")
          .when(exists(v, x => isnan(x)), "nan_element")
          .when(exists(v, x => abs(x) === lit(Double.PositiveInfinity)),
            "inf_element")
          .when(!exists(v, x => x =!= lit(0.0)), "zero_norm"))
      .where(col("issue").isNotNull)
  }

  /** Connected components over an undirected edge list: every vertex
    * appearing in `edges` labeled with its component's min vertex id
    * and component size. EAGER (like an MLlib fit): the fixpoint runs
    * at call time; the returned frame is the materialized label set.
    * Works for any orderable id type (long, string, …) — convergence
    * is an exact did-any-label-change test computed inside each round,
    * never a numeric summary of the labels.
    *
    * Two algorithms behind one signature:
    *  - `"minlabel"` (default): min-label propagation — one join + one
    *    min-aggregate per round; rounds needed = component DIAMETER
    *    + 1 (the final round only confirms no label changed — size
    *    `maxRounds` accordingly). The right shape for shallow
    *    components (near-dup clusters converge in 2-3 rounds); throws
    *    at `maxRounds` rather than emit silently-split clusters.
    *  - `"star"`: alternating large-star/small-star (Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC 2014) —
    *    O(log n) rounds on ANY graph shape, each round two grouped
    *    min-aggregates over a distinct-bounded edge set. Choose for
    *    high-diameter graphs (chains, meshes), where minlabel's
    *    diameter-bounded loop would blow the round cap.
    *
    * The input edge plan is materialized ONCE (eager localCheckpoint)
    * before either algorithm derives from it — both consume it through
    * multiple branches (symmetrize unions, vertex projection), which
    * would otherwise re-execute an expensive upstream pipeline (e.g.
    * the capped jaccard pair generator) once per branch.
    *
    * `maxRounds` bounds the round loops only. A graph of at most
    * `spark.graft.cc.smallGraphEdges` edges (default 500 000) is
    * labeled by one union-find task instead, which has no rounds: there
    * `maxRounds` is not enforced, and a graph that would exceed it in
    * the loop is labeled in full rather than failing.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 64, algorithm: String = "minlabel"): DataFrame = {
    // validate BEFORE the eager checkpoint: a typo'd algorithm must not
    // pay a corpus-scale pair-generation job first
    require(algorithm == "minlabel" || algorithm == "star",
      s"unknown connectedComponents algorithm '$algorithm' " +
        "(expected \"minlabel\" or \"star\")")
    // the edge count rides the checkpoint's own materialization — a
    // free exact row count that drives the small-graph round shape
    val cntObs = org.apache.spark.sql.Observation(
      s"cc_edge_count_${java.util.UUID.randomUUID()}")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .observe(cntObs, count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    val nEdges = cntObs.get("n_edges").asInstanceOf[Long]
    // Small-graph dial: below the threshold the fixpoint does not run
    // as per-round Spark jobs at all — the whole component search runs
    // as ONE single-task union-find pass ([[smallGraphLabels]]), so an
    // O(batch) graph (the incremental-maintenance case: mergeComponents
    // contracts whole merged clusters to single vertices) pays one job
    // instead of (2 actions + a checkpoint + broadcast builds) × rounds
    // of per-job fixed cost — measured 12 jobs ≈ 0.95 s for a 142-edge
    // graph even with fused convergence and single-partition rounds
    // (bench_evidence/probe45_merge_phases r22). Output is pinned
    // identical to both round-loop algorithms (GraftApiSpec): labels
    // are component minima under the SAME ordering Spark's min
    // aggregate uses. The threshold is a conf, not a constant tuned to
    // this host: one task does an O(E α(E)) union-find over ≤threshold
    // edges (~16 B/edge — a few MB in memory), and the default breaks
    // even far below where that single-threaded pass would rival the
    // measured ~200 ms/round 32-partition floor
    // (bench_evidence/probe44_cc_round_fuse.log); raise it on hosts
    // with slower scheduling, lower it if batches carry wide ids. Id
    // types without a reproduced ordering (anything beyond integral /
    // floating / string / boolean) fall back to the round loop over
    // single-partition frames — still exchange-free, just per-round.
    val small = nEdges <= smallGraphEdges(edges.sparkSession)
    val idType = e.schema("src").dataType
    val labels =
      if (small && smallGraphOrdering(idType).isDefined)
        smallGraphLabels(e, idType)
      else if (algorithm == "minlabel") minLabelComponents(e, maxRounds, small)
      else starComponents(e, maxRounds, small)
    labels
      .withColumn("component_size", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("v").as("id"), col("label").as("component_id"),
        col("component_size"))
  }

  /** `spark.graft.cc.smallGraphEdges`, the largest edge count
    * [[connectedComponents]] labels in one union-find task (default
    * 500 000). A value that is not a positive integer fails here, naming
    * the key and the value, instead of as a bare NumberFormatException
    * or as a threshold that silently disables the path.
    */
  private def smallGraphEdges(spark: org.apache.spark.sql.SparkSession): Long = {
    val key = "spark.graft.cc.smallGraphEdges"
    val raw = spark.conf.get(key, "500000")
    raw.trim.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a positive integer edge count, got '$raw'"))
  }

  /** The ordering [[smallGraphLabels]] labels minima under — it must
    * REPRODUCE Spark's own `min` aggregate ordering on EXTERNAL values
    * for the id type, or the single-task labels would diverge from the
    * round loop's. Natural Comparable order matches Spark for
    * integral/floating/boolean/decimal types; strings compare as
    * UTF8String (unsigned UTF-8 bytes ≡ code-point order), NOT
    * java.lang.String (UTF-16 code units — diverges beyond the BMP).
    * None ⇒ no reproduced ordering ⇒ the caller keeps the round loop.
    */
  private def smallGraphOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String]))
      })
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | BooleanType | _: DecimalType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
      })
      case _ => None
    }
  }

  /** Single-task connected components over a measured-small edge set:
    * one `mapPartitions` union-find pass (path-halving, union by the
    * id ordering so every root IS its component's minimum) emitting
    * `(v, label)` — the exact rows either round-loop algorithm
    * produces, without one Spark job per propagation round. Dirty-edge
    * semantics match the loops: a null endpoint never unions (null
    * never equals anything in the join / is filtered by the star
    * orientation), so a null vertex labels itself; self-loops register
    * the vertex and union nothing. LAZY, unlike the loops — the caller
    * decides when to materialize; there is no convergence round-count
    * to enforce because union-find has no rounds.
    */
  private def smallGraphLabels(e: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = smallGraphOrdering(idType).get
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", idType, nullable = true),
      org.apache.spark.sql.types.StructField("label", idType, nullable = true)))
    e.coalesce(1).mapPartitions { rows =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        var p = parent.get(r)
        while (p != null && !p.equals(r)) { // walk to root
          val gp = parent.get(p)
          if (gp != null) parent.put(r, gp) // path halving
          r = p
          p = parent.get(r)
        }
        r
      }
      def see(x: Any): Unit =
        if (parent.get(x) == null) parent.put(x, x)
      // boxed -0.0 and 0.0 are unequal HashMap keys, but the round
      // loop's joins and distinct normalize them to one 0.0 vertex
      def key(row: org.apache.spark.sql.Row, i: Int): Any =
        if (row.isNullAt(i)) null
        else row.get(i) match {
          case d: java.lang.Double if d.doubleValue == 0.0 => 0.0d
          case f: java.lang.Float if f.floatValue == 0.0f => 0.0f
          case x => x
        }
      rows.foreach { row =>
        val a = key(row, 0)
        val b = key(row, 1)
        // HashMap cannot hold a null key: track null vertices aside
        if (a == null || b == null) {
          if (a != null) see(a)
          if (b != null) see(b)
          if (a == null || b == null) parent.put(NullVertex, NullVertex)
        } else {
          see(a); see(b)
          val ra = find(a); val rb = find(b)
          if (!ra.equals(rb)) {
            // union by ordering: the smaller id stays root, so the
            // final root of every component is its minimum
            if (ord.compare(ra, rb) <= 0) parent.put(rb, ra)
            else parent.put(ra, rb)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.Row]
      val it = parent.keySet().iterator()
      while (it.hasNext) {
        val v = it.next()
        if (v.asInstanceOf[AnyRef] eq NullVertex)
          out += org.apache.spark.sql.Row(null, null)
        else out += org.apache.spark.sql.Row(v, find(v))
      }
      out.iterator
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Sentinel standing in for a null vertex id inside
    * [[smallGraphLabels]]' HashMap (which rejects null keys). A null
    * endpoint never unions, so it needs no find/union — only a
    * presence mark that emits the loops' `(null, null)` row. Case
    * object: serializable with singleton identity preserved across
    * the task-closure round-trip (the `eq` check relies on it). */
  private case object NullVertex

  /** Incremental connected-components maintenance: fold a batch of NEW
    * edges into an EXISTING labeling without re-running CC over the
    * whole graph. `labels` is a prior [[connectedComponents]] result
    * (`id`, `component_id`, `component_size`); `newEdges` is the new
    * edge batch (e.g. [[incrementalDedupPairs]] output on ingest).
    * Output has the same schema and equals
    * `connectedComponents(oldEdges ∪ newEdges)` exactly (spec-pinned on
    * random graphs): an existing labeling is connectivity-equivalent to
    * its star edge set (member → label), so contracting each new-edge
    * endpoint to its current label — new vertices keep their own id —
    * and running CC over the CONTRACTED batch-sized graph yields the
    * merged components; labels are min ids, so the min over merged
    * labels and new vertex ids is the merged component's true min.
    *
    * Scale shape — per ingest, every frame derived here is O(batch),
    * never O(graph):
    *  - the old labeling is scanned map-side twice (semi-join against
    *    the broadcast endpoint set; final broadcast-relabel join) and
    *    never shuffled;
    *  - CC runs on the contracted graph only: |new edges| edges, with
    *    whole merged chains of old clusters collapsing to single
    *    vertices;
    *  - sizes update incrementally (merged old sizes + new members per
    *    changed component) — unchanged components keep their stored
    *    size and are never re-counted.
    *
    * Self-edges (src = dst after contraction, i.e. both endpoints
    * already share a component) contribute nothing and are dropped —
    * the pair-generator contract (`doc_a < doc_b`) never produces
    * literal self-edges.
    *
    * `changedOnly = true` returns ONLY the rows that differ from the
    * prior labeling (new vertices, relabeled members, members of
    * grown components) — the batch-sized delta a production store
    * upserts instead of rewriting the graph-sized labeling
    * (docs/SCALING.md probe 9; spec-pinned == full output minus
    * unchanged rows).
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, maxRounds: Int = 64,
      algorithm: String = "minlabel",
      changedOnly: Boolean = false): DataFrame = {
    val lab = labels.select(col("id"), col("component_id"),
      col("component_size"))
    // the batch edge plan may be expensive (a candidate-join pair
    // generator); materialize once, every downstream branch reads it
    val e = newEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val endpoints = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    // old-label rows for batch endpoints only: map-side semi-join scan
    // of the labeling against the broadcast endpoint set — O(batch) out
    val touched = lab
      .join(broadcast(endpoints), Seq("id"), "left_semi")
      .localCheckpoint(true)
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
    val cc = connectedComponents(contracted, "src", "dst", maxRounds,
      algorithm).select(col("id"), col("component_id").as("new_label"))
      .localCheckpoint(true)
    // contracted vertices split cleanly: old labels (∈ labels.id, they
    // label themselves) vs brand-new vertices (∉ labels.id) — the old
    // label set is exactly touched's distinct component ids
    val oldLabelIds = touched.select(col("component_id").as("id")).distinct()
    val mOld = cc.join(broadcast(oldLabelIds), Seq("id"), "left_semi")
      .select(col("id").as("component_id"), col("new_label"))
    val mNew = cc.join(broadcast(oldLabelIds), Seq("id"), "left_anti")
      .select(col("id"), col("new_label").as("component_id"))
    // ONE broadcast subtree for both mOld consumers (size fold below,
    // relabel join at the end): identical child plans let ReuseExchange
    // build the batch-sized broadcast once instead of once per use
    // (r22 — the merge tail's cost is per-job fixed overhead, probe45)
    val mOldNl = mOld.withColumnRenamed("new_label", "nl")
    // incremental sizes: each changed component = Σ sizes of the old
    // clusters merged into it + its count of new vertices
    val sizeOld = touched.select(col("component_id"), col("component_size"))
      .distinct()
      .join(broadcast(mOldNl), Seq("component_id"))
      .groupBy(col("nl").as("new_label")).agg(sum("component_size").as("s_old"))
    val sizeNew = mNew.groupBy(col("component_id").as("new_label"))
      .agg(count(lit(1)).as("s_new"))
    val newSizes = sizeOld.join(sizeNew, Seq("new_label"), "full_outer")
      .select(col("new_label").as("component_id"),
        (coalesce(col("s_old"), lit(0L)) +
          coalesce(col("s_new"), lit(0L))).as("merged_size"))
    // relabel: map-side broadcast joins against the O(batch) mappings;
    // rows of untouched components pass through with label + size kept
    val relabeledOld = lab
      .join(broadcast(mOldNl), Seq("component_id"), "left")
      .select(col("id"),
        coalesce(col("nl"), col("component_id")).as("component_id"),
        col("component_size"))
    val joined = relabeledOld
      .unionByName(mNew.withColumn("component_size", lit(null).cast("long")))
      .join(broadcast(newSizes.withColumnRenamed("merged_size", "ms")),
        Seq("component_id"), "left")
    // every affected component appears in newSizes under its FINAL
    // label (merges strictly grow membership), so ms != null marks
    // exactly the rows that differ from the prior labeling
    (if (changedOnly) joined.where(col("ms").isNotNull) else joined)
      .select(col("id"), col("component_id"),
        coalesce(col("ms"), col("component_size")).as("component_size"))
  }

  /** Min-label propagation to a fixpoint; returns (v, label).
    *
    * Every round ends in an eager `localCheckpoint`: the next round's
    * plan references materialized partitions, not the previous round's
    * plan — without the truncation the logical plan TRIPLES per round
    * (labels feeds both the neighbor-min aggregate and the join) and
    * explodes exponentially. Old round RDDs are freed by the
    * ContextCleaner once unreferenced — the MLlib/GraphFrames
    * iterative pattern.
    *
    * Each round is ONE Spark job: the exact did-any-label-change count
    * rides the checkpoint's materialization via `observe` (a
    * CollectMetrics accumulator filled by the same tasks that write
    * the cached partitions), instead of a second `isEmpty` action over
    * the freshly-cached round output. At production batch sizes both
    * actions are trivial next to the join; at small/incremental batch
    * sizes the per-job fixed overhead IS the cost of the fixpoint, and
    * this halves it. The convergence test is unchanged in kind — an
    * exact per-row flag count, type-generic, never a numeric summary
    * of the labels.
    */
  private def minLabelComponents(e: DataFrame, maxRounds: Int,
      small: Boolean = false): DataFrame = {
    // small-graph shape: collapse every round input to ONE partition —
    // coalesce is narrow (no shuffle), SinglePartition satisfies the
    // join/agg clustering requirements, so each round is one
    // exchange-free stage. `one` is applied after each checkpoint too:
    // a checkpointed frame that lost its SinglePartition reporting
    // would otherwise re-grow an Exchange mid-loop (coalesce(1) on an
    // already-single frame is a free narrow no-op).
    def one(df: DataFrame): DataFrame = if (small) df.coalesce(1) else df
    val sym = one(e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))))
      .persist()
    try {
      var labels = one(sym.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
        .localCheckpoint(true))
      var changed = true
      var rounds = 0
      while (changed && rounds < maxRounds) {
        val nbrMin = sym.join(labels, sym("dst") === labels("v"))
          .groupBy("src").agg(min("label").as("nbr_label"))
        // the change flag rides the round's own projection and is counted
        // exactly — type-generic, unlike the decimal label-sum shortcut
        // this replaces (NULL→0 for string ids, which silently reported
        // convergence after one round on under-propagated labels)
        val obs = org.apache.spark.sql.Observation(s"cc_round_$rounds")
        val next = labels.join(nbrMin, labels("v") === nbrMin("src"), "left")
          .select(labels("v"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
            coalesce(col("nbr_label") < col("label"), lit(false)).as("chg"))
          .observe(obs, count(when(col("chg"), true)).as("n_chg"))
          .localCheckpoint(true) // the action that completes obs
        changed = obs.get("n_chg").asInstanceOf[Long] > 0L
        labels = one(next.select("v", "label"))
        rounds += 1
      }
      if (changed) throw new IllegalStateException(
        s"connectedComponents did not converge after $rounds rounds; " +
          "high-diameter graphs want algorithm=\"star\"")
      labels
    } finally sym.unpersist()
  }

  /** Alternating large-star/small-star to a fixpoint; returns
    * (v, label). Edges live canonically as (u, v) with u > v;
    * large-star links every strictly-larger neighbor of a node to the
    * min of its closed neighborhood, small-star links the node and its
    * smaller neighbors there. Both halve long paths, hence O(log n)
    * rounds; the fixpoint is a union of stars centered at component
    * minima (SoCC 2014, Thm 2).
    */
  private def starComponents(e0: DataFrame, maxRounds: Int,
      small: Boolean = false): DataFrame = {
    // same small-graph single-partition round shape as minlabel
    def one(df: DataFrame): DataFrame = if (small) df.coalesce(1) else df
    val verts = one(e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id"))))
      .distinct()
    // per-round localCheckpoint for the same reason as minlabel, with
    // higher stakes: each round references the previous edge set ~8×
    // (two symmetrizing unions, two self-aggregate joins), so an
    // un-truncated plan grows 8^rounds
    var edges = one(one(e0).where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint(true))
    var n = edges.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // large-star over the SYMMETRIC neighborhood (the union doubles
      // the partition count, so re-collapse it in small-graph mode)
      val symN = one(edges.unionAll(edges.select(col("v").as("u"), col("u").as("v"))))
      val minN = symN.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("c"), least(col("mn"), col("u")).as("m"))
      val large = symN.join(minN, symN("u") === minN("c"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the canonical orientation (all neighbors < u)
      val minS = large.groupBy("u").agg(min("v").as("m"))
      // the round's edge count rides the checkpoint job via observe
      // (same fusion as the minlabel loop: one job per round, not two)
      val obs = org.apache.spark.sql.Observation(s"cc_star_round_$rounds")
      val smallStars = one(large.join(minS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(minS.select(col("u"), col("m").as("v"))))
        .where(col("u") =!= col("v"))
        .distinct()
        .observe(obs, count(lit(1)).as("n_edges"))
        .localCheckpoint(true)
      val nNew = obs.get("n_edges").asInstanceOf[Long]
      // fixpoint = the edge set is stable under a full large+small pass
      converged = nNew == n && smallStars.exceptAll(edges).isEmpty
      edges = one(smallStars)
      n = nNew
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents(star) did not converge after $rounds rounds")
    // stars: every non-root has exactly one edge (v, root); roots and
    // isolated-in-the-fixpoint vertices label themselves
    val roots = edges.select(col("u").as("rv"), col("v").as("rl"))
    verts.join(roots, verts("id") === roots("rv"), "left")
      .select(verts("id").as("v"), coalesce(col("rl"), verts("id")).as("label"))
      .localCheckpoint(true)
  }

  /** As-of join via the union trick: each `left` row gains the columns
    * of the latest `right` row with the same key at-or-before its
    * time (NULLs when none). Zero joins in the plan; shuffles move
    * each input once (tie-break window on (key, rightTime), as-of
    * window on key). `rightCols` are the right-side columns to carry
    * (they must not collide with left's column names).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTimeCol: String, rightTimeCol: String,
      rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // one right row per (key, time): keep the last by the carried
    // columns' struct order — ties are otherwise nondeterministic
    val r = right
      .withColumn("_rn", row_number().over(
        Window.partitionBy(keyCol, rightTimeCol)
          .orderBy(struct(rightCols.map(col): _*).desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val tagged = r.select(
        Seq(col(keyCol).as("_k"), col(rightTimeCol).as("_t"), lit(0).as("_tag")) ++
          rightCols.map(c => col(c).as(s"_r_$c")) ++
          leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
      .unionByName(left.select(
        Seq(col(keyCol).as("_k"), col(leftTimeCol).as("_t"), lit(1).as("_tag")) ++
          rightCols.map(c => lit(null).cast(r.schema(c).dataType).as(s"_r_$c")) ++
          leftCols.map(col): _*))
    val w = Window.partitionBy("_k").orderBy("_t", "_tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(tagged) { (df, c) =>
      df.withColumn(c, last(s"_r_$c", ignoreNulls = true).over(w))
    }
    carried.filter(col("_tag") === 1)
      .select((leftCols ++ rightCols).map(col): _*)
  }

  /** Gap-based sessionization: rows keyed by `keyCol`, ordered by the
    * epoch-time column; a gap > `gapUs` starts a new session. One
    * shuffle on the key (both window passes share it).
    */
  def sessionize(events: DataFrame, keyCol: String, tsUsCol: String,
      gapUs: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsUsCol)
    events
      .withColumn("_prev", lag(tsUsCol, 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col(tsUsCol) - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        min(tsUsCol).as("session_start_us"),
        count(lit(1)).as("n_events"),
        (max(tsUsCol) - min(tsUsCol)).as("duration_us"))
  }

  /** Top-k rows per group by `orderBy` columns (descending-first order
    * is the caller's via the Columns). Plans with WindowGroupLimit:
    * each map task keeps its local top-k before the exchange.
    */
  def topKPerGroup(df: DataFrame, k: Int, groupCols: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)).cast("long"))
      .where(col("rank") <= k)

  /** Deterministic map-only sample: keeps rows whose 31-bit
    * multiplicative hash of the integral `idCol` falls under
    * frac · 2³¹. ZERO shuffles — a pure filter every partition applies
    * independently; each stratum of any grouping retains ~frac in
    * expectation. The scale-safe default over exact-rank stratified
    * sampling (see [[graft.operators.Corpus.qSampleStratified]] for
    * the trade).
    */
  def hashSample(df: DataFrame, idCol: String, frac: Double): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
    // an implicit cast of a non-integral id would hash NULL and yield a
    // silently empty sample, so reject anything but integer types here
    val dt = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
      s"hashSample needs an integral id column; '$idCol' is ${dt.simpleString}")
    df.where(graft.operators.Corpus.hash31(col(idCol)) <
      lit((frac * 2147483648.0).toLong))
  }

  /** One-pass data profile of `cols`: per column, row/non-null/
    * distinct counts and numeric min/max (non-numeric strings profile
    * null min/max via try_cast; digit-strings get a real range).
    * `approx = false` is the gate-exact flavor and plans
    * the multi-distinct Expand (input ×k); `approx = true` swaps the
    * distincts for HLL sketches — single pass, NO Expand, mergeable
    * partials, the 100 TB default. Spec-pinned to the gated
    * `q_profile_orders`; the approx flavor's plan and error bound are
    * spec'd in GraftApiSpec/PlanSpec. `snapshot = true` materializes
    * the source once so the approx flavor's two scans cannot see a
    * concurrently-rewritten table inconsistently — pass it when
    * profiling a live table an external writer may overwrite.
    */
  def profile(df: DataFrame, cols: Seq[String], approx: Boolean = false,
      snapshot: Boolean = false): DataFrame =
    graft.operators.Profile.profile(df, cols, approx, snapshot)

  /** Fit a BPE merge table on any frame's `text` column — the
    * deterministic corpus-fitted subword tokenizer (#171/#172): top
    * words by frequency, (count desc, pair asc) argmax merges, the
    * double-replace application rule. The returned table is the
    * versioned artifact a deployment ships (merges.txt); feed it to
    * [[bpeTokenize]]-style encodes or the frozen-merge ingest twin
    * ([[graft.streaming.Streams.bpeFertilitySink]]). Eager (one
    * aggregate + a vocab-bounded collect).
    */
  def bpeLearn(docs: DataFrame): Seq[(String, String)] =
    graft.operators.Bpe.learnFromWords(docs)

  /** Per-doc subword token counts + fertility over any frame with an
    * integral id and a text column, fitting on the same frame — the
    * gated `q_bpe_tokenize` generalized. Encode runs on the word
    * DICTIONARY, never the occurrence stream (scale note in
    * [[graft.operators.Bpe.bpeTokenize]]).
    *
    * Cache contract: the returned plan holds a `.persist()` on the
    * word-count frame consumed by both the fit and the encode; it is
    * deliberately not unpersisted before the query executes. Sessions
    * issuing many calls should `spark.catalog.clearCache()` after
    * consuming each result — see [[winnowPairs]] for the rationale.
    */
  def bpeTokenize(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Bpe.bpeTokenize(docs, idCol, textCol)

  /** Concat-and-chunk sequence packing, row-level: appends `shard`
    * (hash31(id) mod `nShards`), `pack_id` (the pack the row's first
    * token lands in — the shard's id-ordered token stream is cut
    * every `budget` tokens; rows may straddle a cut, the standard
    * GPT-style recipe, not bin packing) and `is_split` (this row
    * straddles) to any frame with an integral id and a token-count
    * column. Write training sequences with
    * `.write.partitionBy("shard", "pack_id")`; the gated
    * `q_pack_sequences` is this frame's aggregate readout
    * (spec-pinned equal in GraftApiSpec). ONE hash exchange — the
    * shard window; downstream (shard, pack) aggregates ride its
    * partitioning. At 100 TB raise `nShards` until a shard's rows fit
    * one task (the #92 layout dial). Null token counts pack as 0
    * tokens; `budget` is the model's context length in production
    * (512 at the gate scale factors so boundaries are exercised).
    * Ids must be UNIQUE (the [[corpusDiff]] contract): the cumulative
    * sum orders by id alone, so duplicate ids within a shard make
    * `pack_id`/`is_split` nondeterministic across partitionings.
    */
  def packAssign(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long,
      nShards: Long = graft.operators.Corpus.NumShards): DataFrame =
    graft.operators.Corpus.packAssign(df, idCol, tokensCol, budget, nShards)

  /** Fixed-window overlapping passage chunking (#162's core): one
    * output row per (doc, window) with the reassembled `chunk_text`,
    * its per-doc `chunk_id` ordinal, `start_tok` offset, and actual
    * `n_tokens` (the tail chunk may be short). Tokens are the shared
    * whitespace-word definition (#34); adjacent chunks overlap by
    * `window - stride` tokens (`stride = window` ⟹ non-overlapping
    * blocks); NULL/empty/whitespace-only docs produce no chunks.
    * Every input column except the consumed text rides through to
    * the chunk grain (source/lang/event-time — what lets the
    * streaming ingest twin watermark chunk rows and a writer
    * partition by any carried key). Stateless map-side explode —
    * zero shuffles, safe at ingest and embarrassingly parallel at
    * any corpus size; fan-out is 1+⌈max(0, n−window)/stride⌉ rows
    * per doc. Spec-pinned to the gated `q_chunk_passages`.
    */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    graft.operators.Corpus.chunkRows(df, idCol, textCol, window, stride)

  /** The curation→retrieval boundary composed end-to-end (the RAG
    * indexing path): chunk documents into passages ([[chunkPassages]],
    * #162), embed every passage with the deterministic stub text
    * tower (#158's md5 tower — swap in a real encoder and nothing
    * else changes), fit IVF centroids over the passage vectors
    * ([[kmeansCentroids]]) and assign every passage to its cell
    * ([[ivfIndex]]). Returns `(index, centroids)`: the index at
    * `(id struct<doc_id, chunk_id>, cell, vec)` grain — the struct id
    * keeps passage identity EXACT at any corpus size (no synthetic
    * long id to overflow or collide) and groups/orders fine through
    * the whole ANN family — ready for [[writeIvfIndex]] (bucket by
    * `cell`) and [[chunkQuery]] serving.
    *
    * Scale shape: chunking is the map-side explode (#162), the tower
    * is per-row projection, the fit and assignment are the
    * kmeans/ivfIndex shapes (broadcast centroids, nothing corpus-
    * sized crosses the wire). Eager like an MLlib fit (the kmeans
    * rounds run now), so call it index-build-time, not per query.
    */
  def chunkIndex(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int, kCentroids: Int, iters: Int = 5)
      : (DataFrame, DataFrame) = {
    // materialize the chunk+embed pipeline ONCE: the fit and the
    // assignment both consume it, and the returned index is consumed
    // again by the caller (writeIvfIndex/serving) — without the
    // checkpoint every one of those re-chunks and re-embeds the whole
    // corpus (plan-audited, round 13; the call is documented eager)
    val passages = chunkPassages(docs, idCol, textCol, window, stride)
      .select(
        struct(col(idCol).as("doc_id"), col("chunk_id")).as("pid"),
        graft.operators.Multimodal.textTowerVec(col("chunk_text")).as("v"))
      .localCheckpoint(true)
    val cents = kmeansCentroids(passages, "pid", "v", kCentroids, iters)
    val index = ivfIndex(passages, "pid", "v", cents, "cent_id", "cv")
    (index, cents)
  }

  /** Exact dedup at the PASSAGE grain ([[chunkPassages]] composed
    * with #25's content rule): one row per chunk whose normalized
    * text already appears at a lower (doc_id, chunk_id) —
    * `(doc_id, chunk_id, keep_doc_id, keep_chunk_id, group_size)`.
    * Run it between chunking and [[chunkIndex]] so verbatim-duplicate
    * passages (copied docs, boilerplate windows) enter a retrieval
    * index or training mix once. Spec-pinned to the gated
    * `q_chunk_dedup`. One fingerprint-keyed shuffle of
    * (ids + 32-byte hash) — chunk text never crosses the wire.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    graft.operators.Corpus.chunkDedupRows(df, idCol, textCol, window, stride)

  /** Serve text queries against a [[chunkIndex]]: embed the query
    * text through the SAME stub tower the passages went through
    * (tower alignment is the whole contract — a query identical to a
    * stored passage scores cosine 1), probe via [[ivfQuery]], return
    * `(q_id, rank, doc_id, chunk_id, cos)` — the passage coordinates
    * a reader joins back to [[chunkPassages]] output (or the stored
    * passage table) for the text. A NULL-text query cannot embed and
    * returns ONE all-NULL row (rank NULL — real hits rank ≥ 1), so
    * every input q_id is accounted for in the output. nprobe/k are
    * the ivfQuery dials; cost per query batch is probes × cell size,
    * the index side never re-assigns.
    */
  def chunkQuery(index: DataFrame, centroids: DataFrame,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, nprobe: Int): DataFrame = {
    // the dirty-record rule at the query boundary: a NULL-text query
    // has no embedding — without this filter its all-NULL cosines
    // would still take probe/top-k ranks over the arbitrary NULL
    // ordering and come back as k fake retrievals with cos = NULL
    val q = queries.where(col(qTextCol).isNotNull)
      .select(col(qIdCol).as("q_id"),
        graft.operators.Multimodal.textTowerVec(col(qTextCol)).as("qv"))
    val hits = ivfQuery(index, centroids, "cent_id", "cv", q, "q_id", "qv",
        k, nprobe)
      .select(col("q_id"), col("rank"),
        col("id.doc_id").as("doc_id"), col("id.chunk_id").as("chunk_id"),
        col("cos"))
    // …but no query may vanish SILENTLY (r13 ADVICE, tightened r14):
    // EVERY input q_id appears in the output — a query that retrieved
    // nothing (NULL text filtered at the boundary, or zero hits from
    // an empty/unmatched index) comes back as ONE all-NULL row (rank
    // NULL is the marker; real hits always rank ≥ 1). The left join
    // covers both cases with one pass; the original union handled
    // only the null-text flavor, so a zero-hit query still vanished.
    queries.select(col(qIdCol).as("q_id"))
      .join(hits, Seq("q_id"), "left")
  }

  /** Sequence transition matrix: per (previous `stateCol` → current)
    * pair within each `seqCol` partition ordered by `orderCol` (+
    * `tieCol` for total order), the transition count and the
    * row-normalized probability — the Markov readout over any
    * event-sequence frame. One window pass on the sequence key, a
    * state-pair aggregate, and a probability window over |states|²
    * rows only. Rows with a null sequence key or order value are
    * excluded (the dirty-record rule). Output columns `prev`/`ct`/`p`
    * are part of the contract, so the input must not already carry
    * them (a pre-existing `prev` would be silently clobbered by the
    * lag column) — guarded with a loud `require` instead.
    * Spec-pinned to the gated `q_event_transitions`.
    */
  def transitions(df: DataFrame, seqCol: String, orderCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    Seq("prev", "ct", "p").foreach(r => require(!df.columns.contains(r),
      s"transitions emits a '$r' column; rename the input's '$r' first"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(seqCol).orderBy(orderCol, tieCol)
    val p = Window.partitionBy("prev")
    df.where(col(seqCol).isNotNull && col(orderCol).isNotNull)
      .withColumn("prev", lag(col(stateCol), 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col(stateCol))
      .agg(count(lit(1)).as("ct"))
      .withColumn("p", col("ct").cast("double") / sum("ct").over(p))
  }

  /** Per-stratum percentile-band outlier filter: rows whose `valueCol`
    * falls outside their stratum's [pLo, pHi] band. The one-row-per-
    * stratum bounds frame broadcasts back; the data side stays one
    * scan + a map-side band test. Exact percentile buffers each
    * stratum in one task (gate flavor); at 100 TB swap the bounds agg
    * to `approx_percentile` — the band test is unchanged. Both the
    * bounds aggregate and the band test consume `df` — persist it
    * first if it is expensive to recompute (the gated query does).
    * Spec-pinned to the gated `q_outlier_docs`.
    */
  def outliers(df: DataFrame, valueCol: String, stratumCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    // the output appends band columns `lo`/`hi`; an input already
    // carrying either would yield duplicate names and AMBIGUOUS_REFERENCE
    // on any downstream select — fail loudly instead
    Seq("lo", "hi").foreach(r => require(!df.columns.contains(r),
      s"outliers emits a '$r' band column; rename the input's '$r' first"))
    val vq = "`" + valueCol.replace("`", "``") + "`"
    val bounds = df.groupBy(stratumCol)
      .agg(expr(s"percentile($vq, array(${pLo}D, ${pHi}D))").as("_q"))
      .select(col(stratumCol).as("_graft_stratum"),
        col("_q").getItem(0).as("_graft_lo"), col("_q").getItem(1).as("_graft_hi"))
    df.join(broadcast(bounds), col(stratumCol) === col("_graft_stratum"))
      .where(col(valueCol) < col("_graft_lo") || col(valueCol) > col("_graft_hi"))
      .drop("_graft_stratum")
      .withColumnRenamed("_graft_lo", "lo")
      .withColumnRenamed("_graft_hi", "hi")
  }

  /** Mixture sampling — the per-stratum generalization of
    * [[hashSample]]: each stratum keeps the fraction `ratesBp` assigns
    * it (basis points; 10000 = keep all). The rates frame broadcasts;
    * the corpus side stays a map-only filter with a per-row integer
    * threshold (`h < bp·2³¹ div 10⁴` — no float at the keep/drop
    * boundary). Strata ABSENT from the config are dropped (the config
    * is a whitelist — the fail-safe default for a training mix).
    * Spec-pinned to the gated `q_sample_weighted`.
    */
  def mixtureSample(df: DataFrame, idCol: String, stratumCol: String,
      ratesBp: Map[String, Long]): DataFrame = {
    require(ratesBp.values.forall(bp => bp >= 0L && bp <= 10000L),
      "rates are basis points in [0, 10000]")
    val dt = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
      s"mixtureSample needs an integral id column; '$idCol' is ${dt.simpleString}")
    val spark = df.sparkSession
    import spark.implicits._
    val w = ratesBp.toSeq.sorted.toDF(stratumCol, "_graft_rate_bp")
    df.join(broadcast(w), stratumCol)
      .where(graft.operators.Corpus.hash31(col(idCol)) <
        expr("_graft_rate_bp * 2147483648 div 10000"))
      .drop("_graft_rate_bp")
  }

  /** Skew-safe fact⋈dim equi join — the join-side companion to
    * [[saltedDistinct]]'s aggregate remedy. A heavy-tailed key funnels
    * all its fact rows through one task in a plain shuffle join; here
    * each dim row replicates `salts` ways and each fact row picks ONE
    * replica by a deterministic hash of `saltBy` (any well-distributed
    * fact column — typically its primary key), so a hot key's rows
    * spread across `salts` tasks. Exact: every fact row still meets
    * every dim row of its key exactly once (spec-pinned against the
    * plain join). Cost: the dim shuffles `salts`× — size `salts` to
    * the observed skew, not higher.
    *
    * MEASURED (probe 38, r19 — bench_evidence/probe38_skew_salt.log,
    * 80M rows / 32 cores): at a hot key 16× the average task the
    * plain shuffle join degrades 10× (80.6 s vs salted-32's 7.9 s)
    * and even AQE's skew split recovers only a third (26.3 s — it
    * splits the materialized partition after the fact; the salt
    * spreads rows before the shuffle). Dial rule: `salts` ≈ the hot
    * key's row count over the average task's (hot_rows /
    * (n / shuffle partitions)); below ~8× the skew does not bind —
    * plain wins and AQE's split overhead makes it strictly worse.
    *
    * Reach for this only where AQE's skew-join split can't help:
    * stream-static joins (no runtime re-plan), downstream operators
    * that must stay co-partitioned on (key, salt), or a dim too big to
    * broadcast yet small enough to replicate.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
      saltBy: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val fs = fact.withColumn("_salt",
      pmod(hash(col(saltBy)), lit(salts)))
    val ds = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    fs.join(ds, Seq(keyCol, "_salt")).drop("_salt")
  }

  /** Salted exact count-distinct per key (see
    * [[graft.operators.Stats.distinctPerKeySalted]]). */
  def saltedDistinct(df: DataFrame, keyCol: String, idCol: String,
      salts: Int): DataFrame =
    graft.operators.Stats.distinctPerKeySalted(df, keyCol, idCol, salts)

  /** Benchmark decontamination: for every corpus row sharing at least
    * one word-n-gram shingle with `benchmark`, its distinct-shingle
    * overlap count and the ≥ `minOverlap` contamination verdict. The
    * benchmark VOCABULARY (distinct shingle hashes) broadcasts — eval
    * sets are small by design at any corpus scale — so the corpus side
    * is one map-side join + per-id count: no corpus-sized shuffle.
    * Overlap is counted over xxhash64'd shingles (~2⁻⁶⁴ per-pair
    * collision bound, as [[ngramJaccardPairs]]).
    *
    * `n` is the precision dial: published decontamination pipelines
    * use LONG shingles — 8-grams (Gopher / MassiveText, Rae et al.
    * 2021) up to 13-grams (GPT-3, Brown et al. 2020 appendix C) — so
    * incidental phrase overlap can't flag a clean document; short
    * n-grams trade toward recall. The default 3 suits short test
    * documents; production corpora should run 8+. ContaminationSpec
    * pins this core against the independent aggregation-free
    * formulation ([[graft.streaming.Streams.contaminationCheck]]) at
    * n ∈ {3, 8}.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 3,
      minOverlap: Long = graft.operators.Corpus.ContaminationK): DataFrame =
    graft.operators.Corpus.contaminated(corpus, benchmark, idCol, textCol,
      n, minOverlap)

  /** The Bloom-prefiltered [[contamination]] (#127) — identical
    * verdicts (spec-pinned), built for the benchmark whose vocabulary
    * outgrows an exact broadcast: a fixed `numBits`-bit sketch of the
    * benchmark shingles rides into every corpus task and drops
    * non-overlapping shingles map-side (no false negatives — the
    * sketch can only over-admit, and the exact confirm join removes
    * the leakage); only the surviving sliver joins the exact
    * vocabulary. Size the sketch at ~10 bits per expected distinct
    * benchmark shingle for ~1% false-positive leakage.
    */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minOverlap: Long = graft.operators.Corpus.ContaminationK,
      estItems: Long = 1L << 16, numBits: Long = 1L << 20): DataFrame =
    graft.operators.Corpus.contaminatedBloom(corpus, benchmark, idCol,
      textCol, n, minOverlap, estItems, numBits)

  /** CJK-aware word-unit explode: one `word` row per unit of `textCol`
    * (whitespace tokens; maximal Han runs expand to overlapping
    * character bigrams — the classic CJK indexing unit), `carry`
    * columns preserved. Entirely map-side (three codegen'd generators,
    * zero shuffles) — aggregate downstream as needed. Same function
    * the gated `q_keyword_stats_cjk` wraps.
    */
  def cjkWords(df: DataFrame, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    graft.operators.Stats.explodeCjkWords(df, textCol, carry)

  /** Writes a corpus snapshot as a parquet table BUCKETED by the id —
    * the storage layout that keeps the stored side of every
    * snapshot-diff join exchange-free (the [[writeShingleIndex]] /
    * [[writeIvfIndex]] discipline): a bucketed scan already satisfies
    * the hash distribution the per-batch status join and the final
    * removed-sweep anti-join require, so only the (small) arriving
    * batch ever shuffles, never the stored corpus. Used by
    * [[graft.streaming.Streams.corpusDiffSink]]'s steady-state path.
    */
  def writeSnapshot(snap: DataFrame, table: String, idCol: String,
      buckets: Int = 32, overwrite: Boolean = false): Unit =
    snap.write.mode(if (overwrite) "overwrite" else "append")
      .bucketBy(buckets, idCol).sortBy(idCol)
      .format("parquet").saveAsTable(table)

  /** Snapshot diff between two versions of a corpus: per id, the old
    * and new content fingerprints and a `status` of `added` /
    * `removed` / `changed` / `unchanged` (null-safe fp compare: a doc
    * with a null fp on both sides is `unchanged`). `carry` columns
    * ride along, new-side value winning (`coalesce(new, old)`).
    *
    * Shaped as the textbook FULL OUTER join on the id — measured, not
    * assumed (docs/SCALING.md probe 15): the tag-union + one-aggregate
    * alternative exchanges the SAME |old|+|new| rows but contracts
    * them through a corpus-sized hash aggregate (one group per id,
    * five buffers each), which probe 15 measured 1.2-1.8× SLOWER at
    * 50M docs than the join's two sorts + merge; with identical
    * shuffle volume there is no scale argument to offset that, and
    * the join form takes the [[writeSnapshot]] bucketed layout for
    * free (a stored side joins exchange-free — the streaming sink's
    * steady-state path). Null ids are excluded (a diff keyed on null
    * is meaningless, and join null keys would never match anyway);
    * ids must be unique within each snapshot (duplicates would fan
    * out, as in any keyed diff).
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      fpCol: String, carry: Seq[String] = Nil): DataFrame = {
    Seq("fp_old", "fp_new", "status").foreach(r =>
      require(!carry.contains(r) && r != idCol,
        s"corpusDiff emits a '$r' column; rename the input's '$r' first"))
    val a = oldSnap.where(col(idCol).isNotNull).select(
      col(idCol).as("_a_id") +: col(fpCol).as("fp_old") +:
        carry.map(c => col(c).as(s"_a_$c")): _*)
    val b = newSnap.where(col(idCol).isNotNull).select(
      col(idCol).as("_b_id") +: col(fpCol).as("fp_new") +:
        carry.map(c => col(c).as(s"_b_$c")): _*)
    a.join(b, col("_a_id") === col("_b_id"), "full_outer")
      .select(
        coalesce(col("_b_id"), col("_a_id")).as(idCol) +:
          col("fp_old") +: col("fp_new") +:
          when(col("_a_id").isNull, "added")
            .when(col("_b_id").isNull, "removed")
            .when(col("fp_old") <=> col("fp_new"), "unchanged")
            .otherwise("changed").as("status") +:
          carry.map(c => coalesce(col(s"_b_$c"), col(s"_a_$c")).as(c)): _*)
  }

  /** The corpus-self-trained unigram model behind the LM quality
    * score (#126/#130): per word, a 6-dp-fixed DECIMAL(18,6)
    * log-probability. Vocabulary-sized — persist or
    * [[writeSnapshot]] it and score later ingest against the FROZEN
    * model with [[scoreQualityLm]] (re-fit on a cadence, the
    * streaming-centroid lambda rule).
    */
  def unigramModel(df: DataFrame, textCol: String): DataFrame =
    graft.operators.Text.unigramModel(df, textCol)

  /** Scores any frame against a [[unigramModel]]: per row, token
    * count and mean token log-prob (exact decimal summation —
    * partitioning-independent; OOV words dropped from mass and
    * count; token-less rows keep n_tokens = 0 and a NULL score).
    * Stateless per document, so the streaming twin
    * ([[graft.streaming.Streams.qualityLmSink]]) is batch-boundary-
    * proof by construction.
    */
  def scoreQualityLm(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.Text.scoreQualityLm(df, model, idCol, textCol)

  /** CCNet-style LM-score bucketing (#139): per-`langCol` tercile
    * cutoffs over the [[scoreQualityLm]] score under `model`, then a
    * map-side head/middle/tail assignment (head = least negative
    * third; ties at a cutoff fall to the lower bucket; unscored rows
    * keep a NULL bucket). The cutoff frame is language-grain and
    * broadcasts — deliberately NOT a per-language ntile window, which
    * would sort a whole language in one task at corpus scale. Pass a
    * frozen model to bucket later ingest against a fixed scorer (the
    * [[scoreQualityLm]] composition).
    */
  def lmBuckets(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame =
    graft.operators.Text.lmBuckets(df, model, idCol, textCol, langCol)

  /** The C4 cleaning heuristics (#137, Raffel et al. 2020 §2.2) on
    * any frame with an id + text column: per row, line counts under
    * the terminal-punctuation / ≥5-word / no-"javascript" line rule,
    * the retained-character fraction, the brace and "lorem ipsum"
    * page flags, and the ≥3-kept-lines page verdict. Pure map-side
    * projection — parquet-scan speed at any size.
    */
  def c4Rules(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Text.c4Rules(df, idCol, textCol)

  /** The Gopher quality-rule battery (#138, Rae et al. 2021 Table
    * A1) on any frame with an id + text column: the seven per-row
    * measures, one boolean per rule, and the conjunction `pass`
    * (undefined rules — zero-word/zero-line rows — read NULL and
    * fail the conjunction). Pure map-side projection.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Text.gopherRules(df, idCol, textCol)

  /** The word-blocklist battery (#193, the C4 §2.2 LDNOOBW page
    * filter) on any frame with an id + text column: per row, how many
    * lowercased alphanumeric tokens match the list (`n_blocked`) and
    * the verdict (`blocked`; NULL text → NULL — the dirty rule). Pass
    * the real policy list via `words` — the default is the gate's
    * tiny spam-register stand-in. Pure map-side projection: the list
    * compiles into the codegen'd filter, nothing broadcasts.
    */
  def blocklistRules(df: DataFrame, idCol: String, textCol: String,
      words: Seq[String] = graft.operators.Text.BlockWords): DataFrame =
    graft.operators.Text.blocklistRules(df, idCol, textCol, words)

  /** Cross-document LINE dedup (#134, the C4/CCNet/RefinedWeb rule)
    * on any frame with an id + text column: per row, trimmed-line
    * counts, lines whose content occurs in ≥2 distinct rows, and the
    * retained-character fraction (NULL for line-less rows). Linear —
    * line keys are codegen'd xxhash64 (8 bytes shuffled per line),
    * one df aggregate, one ≤1-match join back; no pair grain. The
    * ingest twin is [[graft.streaming.Streams.lineDedupSink]].
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Dedup.lineDedup(df, idCol, textCol)

  /** The source-mixture plan (#141, weight ∝ √tokens — the
    * UniMax/LLaMA-style damping) over any (stratum, token-count) row
    * grain: per stratum — row and token totals, normalized weight,
    * the planned token draw under `budget`, and the implied epoch
    * count. One contracted aggregate; deterministic under any
    * partitioning (√ is correctly-rounded, the normalizer sums in
    * exact decimal).
    */
  def mixPlan(df: DataFrame, stratumCol: String, tokensCol: String,
      budget: Long): DataFrame =
    graft.operators.Corpus.mixPlan(df, stratumCol, tokensCol, budget)

  /** TEMPERATURE-based source sampling (#204): the α-general form of
    * [[mixPlan]] — sampling weight ∝ tokens^α, α ∈ (0, 1]; α = 1 is
    * natural sampling, smaller α flattens toward uniform (mBERT's
    * exponent smoothing; XLM-R/mT5 use α ≈ 0.3). Adds `nat_share`
    * and `boost` (= weight / nat_share, the up/down-sampling
    * multiplier a data card reports) to the #141 plan columns.
    * α ∈ {0.25, 0.5, 1.0} compute through correctly-rounded forms
    * (sqrt compositions / identity — bit-reproducible anywhere);
    * other α use `pow`, deterministic per engine but last-ulp
    * engine-specific.
    */
  def mixAlpha(df: DataFrame, stratumCol: String, tokensCol: String,
      alpha: Double, budget: Long): DataFrame =
    graft.operators.Corpus.mixAlpha(df, stratumCol, tokensCol, alpha, budget)

  /** The Gopher REPETITION battery (#144, Rae et al. 2021 Table A1's
    * repetition column) on any frame with an id + text column: the
    * thirteen within-row repetition measures (duplicate line/paragraph
    * fractions and character masses, top 2-4-gram character mass,
    * duplicated 5-10-gram character mass) and the conjunction `pass`
    * against the published thresholds. Pure map-side projection over
    * the row's own sorted arrays — zero shuffles, no (doc, gram)
    * grain ever.
    */
  def gopherRepetition(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.Text.gopherRepetition(df, idCol, textCol)

  /** The cross-source exact-duplication matrix (#145) over any
    * (text, stratum) frame: per ordered stratum pair (a, b), rows of
    * a with a content twin (the #25 fingerprint identity) in b and
    * the fraction of a that is. Diagonal cells always present,
    * off-diagonal hits-only. One corpus exchange (fp-grain
    * contraction, map-side pair expansion).
    */
  def sourceOverlap(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    graft.operators.Corpus.sourceOverlap(df, textCol, sourceCol)

  /** DSIR importance weights (#146, Xie et al. 2023) on any frame
    * with an id + text column, toward a caller-chosen target slice
    * (`isTarget` — any boolean Column over the frame): per row, the
    * token count, the total log-likelihood ratio between the
    * target-slice and whole-frame hashed-unigram models, and
    * `selected` (ratio > 0, decided in exact decimal). The weight
    * column is what a production run feeds to weighted resampling
    * ([[mixtureSample]]'s per-stratum rates or a Gumbel top-k both
    * compose on it).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame =
    graft.operators.Corpus.dsirWeights(df, idCol, textCol, isTarget)

  /** The frozen half of [[dsirWeights]]: the 256-row (bucket,
    * Δlog-prob) selection model, fit in one corpus pass. Persist or
    * snapshot it to score later ingest against a FROZEN model — the
    * [[graft.streaming.Streams.dsirSink]] deployment (re-fit on a
    * cadence, the [[unigramModel]] rule).
    */
  def dsirModel(df: DataFrame, textCol: String,
      isTarget: Column): DataFrame =
    graft.operators.Corpus.dsirModel(df, textCol, isTarget)

  /** The stateless half of [[dsirWeights]]: score any frame against a
    * (possibly frozen) [[dsirModel]]. A row's weight depends only on
    * its own text and the model, so micro-batch boundaries cannot
    * change it — [[dsirWeights]] ≡ `dsirScore(df, dsirModel(df, …))`.
    */
  def dsirScore(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.Corpus.dsirScore(df, model, idCol, textCol)

  /** The discriminative QUALITY CLASSIFIER (#195, the GPT-3 §2.1 /
    * LLaMA CCNet-stage recipe: keep crawl pages a linear probe scores
    * reference-like) on any frame with an id + text column, toward a
    * caller-chosen curated slice (`isRef` — any boolean Column over
    * the frame, the [[dsirWeights]] convention): per row `(doc_id,
    * score, keep)` with keep = score ≥ `threshold`. The probe is a
    * least-squares fit over hashed-unigram frequencies by full-batch
    * GD in cross-engine fixed point — deterministic under any
    * partitioning, re-derivable in any SQL engine (the #75/#171 fit
    * discipline; `q_quality_classifier` IS its hash gate). Fit cost:
    * `iters` × (broadcast-model join + two bucket contractions) over
    * the frame — fit on a labeled SAMPLE (the published recipes use
    * ~10⁵ docs), then score the corpus via the frozen split below.
    */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
      isRef: Column, threshold: Double = 0.5,
      dims: Int = graft.operators.Text.ClsDims,
      iters: Int = graft.operators.Text.ClsIters,
      lr: Double = graft.operators.Text.ClsLr): DataFrame =
    graft.operators.Text.classifierQuality(df, idCol, textCol, isRef,
      threshold, dims, iters, lr)

  /** The frozen half of [[qualityClassifier]]: the dims+1-row `(i, w)`
    * linear-probe model, fit on `df`'s labeled rows. Persist or
    * snapshot it to score later ingest against a FROZEN model (the
    * [[dsirModel]] deployment — re-fit on a cadence); only these
    * dims+1 doubles ever reach the driver.
    */
  def qualityClassifierModel(df: DataFrame, idCol: String,
      textCol: String, isRef: Column,
      dims: Int = graft.operators.Text.ClsDims,
      iters: Int = graft.operators.Text.ClsIters,
      lr: Double = graft.operators.Text.ClsLr): DataFrame =
    graft.operators.Text.classifierModel(df, idCol, textCol, isRef,
      dims, iters, lr)

  /** The stateless half of [[qualityClassifier]]: score any id + text
    * frame against a (possibly frozen) [[qualityClassifierModel]] —
    * one map-side hash pass plus one (doc, bucket) contraction against
    * the broadcast model, so it runs at ingest inside any foreachBatch
    * without state machinery. A row's score depends only on its own
    * text and the model, so micro-batch boundaries cannot change it:
    * `qualityClassifier(df, …)` ≡ score(df, model(df, …)) + threshold.
    */
  def qualityClassifierScore(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String,
      dims: Int = graft.operators.Text.ClsDims): DataFrame =
    graft.operators.Text.classifierScoreWith(df, idCol, textCol, model,
      dims)

  /** The pairwise filter-agreement matrix (#151) over any frame with
    * id + text + language columns: for each pair of the four shipped
    * batteries (C4 page rules, Gopher quality, Gopher repetition, LM
    * head∪middle), both-keep / both-drop / only-one counts and the
    * agreement rate. The three map-side batteries fuse into one text
    * scan; the LM flag is the one corpus-level input.
    */
  def filterAgreement(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    graft.operators.Text.filterAgreement(df, idCol, textCol, langCol)

  /** One snapshot's contracted (source, length-bucket) histogram —
    * the additive state behind streaming drift (#128): per source and
    * power-of-two token bucket (the `q_length_histogram` rule; null
    * token counts keep a NULL bucket), the doc count `n` and token
    * mass `tok`. Integer sums → partials over ANY partition of the
    * corpus add up to the one-shot histogram exactly, which is why
    * [[graft.streaming.Streams.corpusDriftSink]] can accumulate it
    * per micro-batch.
    */
  def driftHistogram(df: DataFrame, sourceCol: String,
      tokensCol: String): DataFrame =
    graft.operators.Corpus.driftHistogram(df, sourceCol, tokensCol)

  /** The `q_corpus_drift` readout (#122) from a PAIR of
    * [[driftHistogram]] frames — per source: old/new doc counts,
    * old/new mean token length, and the cross-multiplied integer L1
    * between the two length distributions. Spec-pinned equal to the
    * gated single-scan form; the shape the streaming sweep consumes.
    */
  def corpusDriftFromHistograms(oldHist: DataFrame,
      newHist: DataFrame): DataFrame =
    graft.operators.Corpus.corpusDriftFromHistograms(oldHist, newHist)
}
