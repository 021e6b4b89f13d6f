package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SqlFunctions.call

/** Deduplication operators for training-data pipelines (SURVEY.md §2.3
  * #25-28): exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH,
  * SimHash.
  *
  * Scale design (SURVEY.md §5): nothing here is all-pairs. Exact dedup
  * is one hash-partitioned window (shuffle on the fingerprint). The
  * near-dup family is candidate-join shaped: explode shingles → join on
  * the shingle/bucket key → verify ONLY candidate pairs. At 100 TB the
  * candidate key (shingle, LSH band bucket, simhash chunk) is the only
  * shuffle key, per-key fan-out is bounded by band width / chunk size,
  * and the exact verification step touches candidates only — never the
  * full cross product. For web-scale corpora the document-frequency
  * cap ships as its own oracle-checked operator
  * ([[qDedupNgramJaccardCapped]], #47) — at test SF the cap never
  * binds, so it agrees bit-for-bit with the uncapped #26 there
  * (spec-pinned) while surviving shared-boilerplate corpora
  * (docs/SCALING.md probe 3).
  */
object Dedup {

  /** Jaccard threshold for "near-duplicate" (the test corpus has a
    * clean gap: planted near-dups sit at ≥0.97, background pairs <0.3).
    */
  private[graft] val JaccardTau = 0.8

  /** Content-identity fingerprint shared by #25, #52, and #121 — the
    * one definition of "the same document"; its SQL twin must change
    * in lockstep. The normalized-text form is exposed separately so
    * #121 can fingerprint a SIMULATED re-crawl (normalized text + a
    * version marker) with the same normalization.
    */
  private[graft] def contentNormOf(c: Column): Column =
    trim(regexp_replace(lower(c), " +", " "))
  private[operators] val contentNorm = contentNormOf(col("text"))
  private[operators] def contentNormSqlOf(c: String): String =
    s"trim(regexp_replace(lower($c), ' +', ' ', 'g'))"
  private[operators] val contentNormSql = contentNormSqlOf("text")
  private[graft] val contentFp = md5(contentNorm)
  private[operators] val contentFpSql = s"md5($contentNormSql)"

  /** #25 — exact dedup: canonical doc (min doc_id) per normalized-text
    * md5 group. Reference analogue: UniqueVisitApp's keyed first-wins
    * dedup (UniqueVisitApp.java:37-71) applied to content identity.
    * One shuffle on the fingerprint; at 100 TB this is a plain
    * hash-partitioned window with map-side-prunable input (doc_id +
    * 32-byte hash only).
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    Tables.documents(spark, dir)
      .select(col("doc_id"), contentFp.as("fp"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "fp", "canonical_id", "group_size", "is_dup")
      .orderBy("doc_id")
  }

  val qDedupExactSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, $contentFpSql AS fp
      |  FROM documents)
      |SELECT doc_id, fp,
      |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
      |  count(*) OVER (PARTITION BY fp) AS group_size,
      |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
      |FROM t ORDER BY doc_id""".stripMargin

  /** Per-doc distinct word-3-gram shingle sets: (doc_id, shingles,
    * n_shingles). Both engines generate shingles with the identical
    * 1-based sliding window over non-empty whitespace tokens.
    *
    * Shingling runs through the codegen'd [[graft.functions.WordShingles]]
    * expression (the built-in HOF pipeline interpreted at ~1.8 ms/doc and
    * dominated the dedup bench). Persisted because every consumer
    * references the frame 2-3 times (both sides of the candidate
    * self-join + verification) and Spark re-executes each reference;
    * CacheManager keys on the canonical plan, so ngram-jaccard and
    * minhash-LSH share one cached copy — the same pattern Spark MLlib's
    * MinHashLSH applies to its input.
    */
  private def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), call("word_shingles", col("text"), lit(3)).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")).cast("long"))
      .persist()
  }

  private def shingleExploded(spark: SparkSession, dir: String): DataFrame =
    shingleSets(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Shared tail of the Jaccard family (#26, #47): self-join the
    * exploded (doc_id, shingle-hash) frame on the shingle key, count
    * |∩| per pair via the codegen'd hash aggregate, re-attach the
    * per-doc set sizes from `cnt` (columns doc_id, n — deliberately NO
    * broadcast hint: tiny at test SF where AQE broadcasts it from
    * runtime stats, corpus-sized at 100 TB where it must shuffle on
    * doc id), and keep pairs at Jaccard ≥ τ.
    */
  private def jaccardPairs(ex: DataFrame, cnt: DataFrame): DataFrame = {
    val a = ex.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = ex.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= JaccardTau)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle CTE text: tokenize + distinct word-3-gram shingles
    * (identical across the #26 / #47 / #43 / #58 oracles).
    */
  private[operators] val shingleCteSql: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3
      |      THEN list_distinct(list_transform(range(1, len(t) - 1),
      |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |      ELSE CAST([] AS VARCHAR[]) END AS shingles
      |  FROM toks)""".stripMargin

  /** #26 — n-gram Jaccard near-dup: docs sharing ≥1 shingle are
    * candidates (join on the shingle key — the only shuffle); exact
    * Jaccard = |∩| / (|A|+|B|−|∩|) filtered at τ. Integer counts →
    * one double division → bit-identical to the DuckDB oracle.
    */
  def qDedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // intersection counted over xxhash64(shingle) rather than the
    // shingle string: the pair-producing shuffle carries (long, long)
    // rows instead of ~20-byte strings and the join/agg compare 8-byte
    // keys. |∩| over hashes == |∩| over strings unless 64-bit hashes
    // collide, which needs ~2^32 DISTINCT shingles to become likely
    // (birthday bound; ~2^-35 at even 1B shingles) — and the oracle's
    // string-exact compare would surface any such corpus.
    val ex = shingleExploded(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val cnt = shingleSets(spark, dir)
      .select(col("doc_id"), col("n_shingles").as("n"))
    jaccardPairs(ex, cnt)
  }

  val qDedupNgramJaccardSql: String =
    s"""WITH $shingleCteSql,
       |cnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Containment threshold as an exact rational (num/den = 0.9) and
    * the short-doc guard: sets smaller than `ContainmentMinShingles`
    * are skipped — a 1-shingle doc is "contained" in anything that
    * quotes three of its words, which is noise, not duplication (the
    * standard guard in the containment literature; Broder 1997 defines
    * containment alongside resemblance for exactly this asymmetric
    * case).
    */
  private val ContainmentNum = 9L
  private val ContainmentDen = 10L
  private val ContainmentMinShingles = 3L

  /** #124 — n-gram CONTAINMENT near-dup: pairs where the SMALLER
    * shingle set is mostly inside the larger — C(A,B) =
    * |S(A)∩S(B)| / min(|S(A)|,|S(B)|) ≥ 0.9. The doc-in-doc detector
    * Jaccard structurally misses: a short document quoted verbatim
    * inside a long one has C = 1.0 but Jaccard ≈ |A|/|B| → 0 as the
    * host grows, so a τ=0.8 resemblance filter never fires (DedupSpec
    * plants exactly this pair and asserts the split). Same machinery
    * as #26 — one persisted shingle pass shared with the whole dedup
    * family, candidates from the shared-shingle join (the only
    * corpus-scale shuffle, same df-cap dial as #47 at 100 TB), counts
    * over xxhash64 keys — only the acceptance test differs, and it is
    * CROSS-MULTIPLIED (`inter·10 ≥ 9·min(na,nb)`) so both engines
    * compare exact integers; the emitted `containment` double is one
    * division, bit-identical across engines.
    */
  /** Shared tail of the containment family (#124, #131) — the
    * [[jaccardPairs]] skeleton with the containment acceptance:
    * cross-multiplied `inter·den ≥ num·min(na,nb)` plus the
    * min-shingle guard.
    */
  private def containmentPairs(ex: DataFrame, cnt: DataFrame): DataFrame = {
    val a = ex.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = ex.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("n_min", least(col("na"), col("nb")))
      .where(col("n_min") >= ContainmentMinShingles &&
        col("inter") * ContainmentDen >= lit(ContainmentNum) * col("n_min"))
      .withColumn("containment", col("inter").cast("double") / col("n_min"))
      .select("doc_a", "doc_b", "inter", "n_min", "containment")
      .orderBy("doc_a", "doc_b")
  }

  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingleExploded(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val cnt = shingleSets(spark, dir)
      .select(col("doc_id"), col("n_shingles").as("n"))
    containmentPairs(ex, cnt)
  }

  val qDedupContainmentSql: String =
    s"""WITH $shingleCteSql,
       |cnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, least(ca.n, cb.n) AS n_min,
       |  CAST(inter AS DOUBLE) / least(ca.n, cb.n) AS containment
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE least(ca.n, cb.n) >= $ContainmentMinShingles
       |  AND inter * $ContainmentDen >= $ContainmentNum * least(ca.n, cb.n)
       |ORDER BY doc_a, doc_b""".stripMargin


  /** #27 — MinHash + banded LSH, HASH-GATED via the r18 band-flag
    * pattern (r18 verdict item 2; previously rows-only — seeded
    * xxhash64 has no DuckDB twin, so the PAIR SET the production
    * pipeline emits was not oracle-replayable). The gate's readout
    * rows are the EXACT τ-pair truth — the #26 computation, which
    * DuckDB recomputes from the raw texts — and the production
    * xxhash64 MinHash+LSH pipeline (k=64 one-pass [[graft.functions
    * .MinHashSig]] signatures, 16 bands × 4 rows, exact-Jaccard
    * verification on deduplicated candidates) contributes the
    * `lsh_found` CERTIFICATION flag the oracle asserts literally
    * TRUE:
    *   - a recall miss by the banded pipeline flips `lsh_found` on
    *     that pair's row → hash fail;
    *   - an UNSOUND extra pair (the pipeline emitting a pair below τ
    *     — structurally impossible while its verification shares
    *     [[jaccardPairs]]' shingle grain and τ, but certified anyway)
    *     surfaces via the FULL join as a row the oracle lacks →
    *     row-count fail.
    * Recall here is corpus-deterministic, not flaky: xxhash64 is a
    * fixed function, and 16×4 banding at the corpus's ≥0.9-Jaccard
    * planted dups misses a pair with probability ≤ 3·10⁻⁸ per pair
    * (1−s⁴)¹⁶ — verified exact == LSH at sf0.001/0.01/0.1, ×10 and
    * the nasty corpora. The pair-SERVING production form (including
    * `est_jaccard`, which cannot cross engines) stays on
    * [[graft.api.Graft.minhashPairs]] / [[minhashLshWithBands]],
    * spec-pinned to this gate's pair set. Cost shape: both sides
    * reuse the one persisted shingle pass; the exact side's
    * shared-shingle join is the #26 plan, the LSH side adds the
    * band-bucket join — the gate pays #26 + #27, the production
    * facade pays #27 alone.
    */
  def qDedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // the exact side IS #26 — called, not transcribed (r19 review:
    // a copy would let a #26 change silently leave this gate
    // certifying against a stale truth definition)
    val exact = qDedupNgramJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("_ex_j"))
    val lsh = minhashLshWithBands(spark, dir, bands = 16, rowsPerBand = 4)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("_lsh_j"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "full")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("_ex_j"), col("_lsh_j")).as("jaccard"),
        (col("_ex_j").isNotNull && col("_lsh_j").isNotNull).as("lsh_found"))
      .orderBy("doc_a", "doc_b")
  }

  /** #27's oracle: the #26 exact-pair truth recomputed from raw texts
    * plus the literal-TRUE certification flag — a production-pipeline
    * recall miss or unsound pair fails the hash gate.
    */
  val qDedupMinhashLshSql: String =
    s"""WITH $shingleCteSql,
       |cnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard,
       |  TRUE AS lsh_found
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** #27 generalized over the BANDING dial — the occupancy/recall
    * trade stated on [[qDedupMinhashLsh]], exposed the way #29 exposes
    * its bits-per-band ([[Similarity.dedupEmbeddingWithBits]]) and #31
    * its nprobe: collision probability per band is s^rowsPerBand (s =
    * true Jaccard), so at corpus scale you RAISE rowsPerBand (fewer,
    * more selective buckets — probe 31 measured the 16/4 default's
    * bucket occupancy growing 14× at ×10 real mass) and set bands for
    * the recall target near τ; K = bands × rowsPerBand minhash slots.
    * [[graft.api.Graft.minhashBanding]] derives the dial from corpus
    * size and τ (r17; probe 34 measures both regimes — the rule cuts
    * moderate-similarity templated mass 21× but cannot reduce true
    * near-dup cluster mass, which costs bands × pairs at any r).
    * Verification is exact either way — the dial moves candidate
    * recall and join fan-out, never correctness of survivors.
    */
  private[graft] def minhashLshWithBands(spark: SparkSession, dir: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"banding dials must be positive, got bands=$bands rows=$rowsPerBand")
    minhashLshPipeline(spark, dir, "minhash_sig",
      slots => xxhash64(slots: _*), bands, rowsPerBand)
  }

  /** The SHARED minhash + banded-LSH pipeline, parameterized by the
    * signature function name and the band-bucket combiner so the
    * production flavor (#27, seeded xxhash64) and the hash-gated twin
    * (#188, cross-engine poly family) are the same plan by
    * construction, not by transcription (review r15). Shape:
    * signatures in ONE map-side pass ([[MinHashSig]]-class
    * expressions are NULL for empty shingle sets — such docs produced
    * no exploded rows in the old formulation either); the band
    * self-join carries ONLY (doc_id, band, bucket) — a doc pair
    * colliding in several (possibly crowded) buckets appears once per
    * collision, so pairs deduplicate BEFORE anything per-pair is
    * computed: signatures re-attach to the tiny surviving pair set
    * and est_jaccard runs once per distinct pair instead of once per
    * bucket collision (the previous shape carried both 64-long
    * signatures through every collision row and paid an interpreted
    * zip_with on each — 3.1 s → 0.3 s at sf0.1). Exact-Jaccard
    * verification runs on candidates only.
    */
  private def minhashLshPipeline(spark: SparkSession, dir: String,
      sigFn: String, bucketOf: Seq[Column] => Column,
      nBands: Int = 16, nRowsPerBand: Int = 4): DataFrame =
    minhashLshPipelineFrame(shingleSets(spark, dir), sigFn, bucketOf,
      nBands, nRowsPerBand, JaccardTau)

  /** The #27 pipeline over an ALREADY-SHINGLED frame `(doc_id,
    * shingles, n_shingles)` — the frame-based core the dir-bound gate
    * queries and the [[graft.api.Graft.minhashPairs]] facade share
    * (r17: the [[graft.api.Graft.minhashBanding]] sizing rule needs a
    * frame API to be usable on anything but the gate tables). The
    * caller owns persisting the shingle frame (every consumer
    * references it 2–3 times).
    */
  private[graft] def minhashLshPipelineFrame(sets: DataFrame,
      sigFn: String, bucketOf: Seq[Column] => Column,
      nBands: Int, nRowsPerBand: Int, tau: Double): DataFrame = {
    val K = nBands * nRowsPerBand
    val Bands = nBands; val RowsPerBand = nRowsPerBand
    val sigs = sets
      .select(col("doc_id"), call(sigFn, col("shingles"), lit(K)).as("sig"))
      .where(col("sig").isNotNull)
    val bandCols = (0 until Bands).map { j =>
      bucketOf((0 until RowsPerBand).map(r =>
        col("sig").getItem(j * RowsPerBand + r)))
    }
    val bands = sigs
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // no broadcast hint: AQE picks broadcast at this SF from runtime
      // sizes; at 100 TB both sides shuffle on doc_id, which is correct
      // — the corpus-sized signature frame can never broadcast
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / K)
      .select("doc_a", "doc_b", "est_jaccard")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_shingles").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_shingles").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** #188 — `q_dedup_minhash_gated`: #27's minhash + banded-LSH
    * pipeline, HASH-GATED (r14 verdict item 2) on the cross-engine
    * polynomial family the #176 winnow gate proved bit-reproducible
    * in DuckDB: base shingle hash = 31-base Horner fold over code
    * points mod 1e9+7, slot i's draw = (aᵢ·h + bᵢ) mod p with the
    * MINSTD constants of [[graft.functions.PolyHash.abPairs]]
    * (embedded as literals in BOTH engines — the oracle SQL below is
    * built from the same arrays), band bucket = the same Horner fold
    * over each band's 4 signature slots. Identical plan shape to #27
    * (one map-side signature pass, band-bucket join as the sole
    * pair-producing shuffle, pairs deduplicated BEFORE signatures
    * re-attach, exact-Jaccard verification on candidates only);
    * the production #27 keeps seeded xxhash64 — better mixed, but
    * with no DuckDB twin, hence rows-only. This flavor turns the LSH
    * pipeline's whole candidate+verify surface into a hash-match.
    */
  def qDedupMinhashGated(spark: SparkSession, dir: String): DataFrame = {
    val P = graft.functions.PolyHash.Mod1
    // band bucket = ((s₀·31 + s₁)·31 + s₂)·31 + s₃ mod p — each slot
    // value < p < 2^30, so every intermediate stays inside a long
    minhashLshPipeline(spark, dir, "minhash_poly_sig",
      slots => slots.foldLeft(lit(0L)) { (acc, slot) =>
        pmod(acc * lit(31L) + slot, lit(P))
      })
  }

  /** #188's oracle — replays the ENTIRE pipeline: shingles, the
    * 31-base fold, all 64 (a, b) slot minima (constants interpolated
    * from the same [[graft.functions.PolyHash.abPairs]] arrays the
    * Spark expression uses), band buckets, candidates, est-Jaccard,
    * exact-Jaccard verification.
    */
  val qDedupMinhashGatedSql: String = {
    val P = graft.functions.PolyHash.Mod1
    val (a, b) = graft.functions.PolyHash.abPairs(64)
    val constRows = (0 until 64)
      .map(i => s"(${i}, ${a(i)}, ${b(i)})").mkString(", ")
    s"""WITH $shingleCteSql,
       |she AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hs AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM she),
       |consts(i, a, b) AS (VALUES $constRows),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, list(m ORDER BY i) AS sig FROM (
       |    SELECT doc_id, i, min((a * h + b) % $P) AS m
       |    FROM hs CROSS JOIN consts GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, j AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), sig[4*j+1:4*j+4]),
       |      (acc, x) -> (acc * 31 + x) % $P) AS bucket
       |  FROM sig CROSS JOIN (SELECT CAST(r.range AS INT) AS j FROM range(0, 16) r) t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 64
       |      AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
       |cnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM she a JOIN she b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |  CAST(i.inter AS DOUBLE) / (ca.n + cb.n - i.inter) AS jaccard
       |FROM est e
       |JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |JOIN cnt ca ON ca.doc_id = e.doc_a
       |JOIN cnt cb ON cb.doc_id = e.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / (ca.n + cb.n - i.inter) >= $JaccardTau
       |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  /** Document-frequency cap for the capped candidate join (#47): a
    * shingle occurring in more than this many documents is dropped
    * from CANDIDATE GENERATION (verification still uses full sets).
    * Far above anything in the test corpora (max df 25 at sf0.01), so
    * the capped query returns exactly the uncapped result there — the
    * cap exists for corpora with boilerplate shingles, where an
    * ultra-common shingle alone contributes df² candidate pairs.
    */
  private[graft] val DfCap = 64

  /** #47 — `q_dedup_ngram_jaccard_capped`: #26 with the standard
    * web-scale guard, as its own oracle-checked operator. Shingles
    * with document frequency > [[DfCap]] are excluded from the
    * OPERATOR'S VOCABULARY: candidates come only from the remaining
    * rare shingles (per-shingle pair fan-out bounded by DfCap²
    * regardless of corpus shape — measured: prepending one identical
    * 12-token boilerplate header to every sf0.1 document sends the
    * uncapped candidate join from ~2.5 s to ~34 s, all C(n,2) pairs
    * via the df=5000 header shingles, while this variant stays at
    * ~3 s; the gap grows as n²), and Jaccard is
    * scored over the same df≤cap sub-vocabulary (boilerplate shingles
    * do not inflate similarity — for dedup purposes a feature, and the
    * property that keeps per-pair work O(1): similarity comes from the
    * candidate join's own counts, never an array intersection). The
    * trade, stated exactly: a pair similar ONLY through over-cap
    * boilerplate is not reported. The oracle applies the identical cap
    * to both stages, so the gate stays a hash-match; on the test
    * corpora (max df 25 < 64) output is identical to #26.
    */
  def qDedupNgramJaccardCapped(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingleExploded(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val rare = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= DfCap)
      .select("shingle")
    // persisted: both sides of the candidate self-join consume this
    // frame, and without the cache each side would re-run the explode
    // AND the df aggregation (the uncapped #26 only re-runs the cheap
    // explode off the cached shingle sets)
    val exRare = ex.join(rare, "shingle").persist()
    val cntRare = exRare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    jaccardPairs(exRare, cntRare)
  }

  val qDedupNgramJaccardCappedSql: String =
    s"""WITH $shingleCteSql,
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= $DfCap),
       |exr AS (SELECT doc_id, ex.shingle FROM ex JOIN rare ON ex.shingle = rare.shingle),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exr GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM exr a JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** #131 — `q_dedup_containment_capped`: #124 under the #47 df≤64
    * cap — the boilerplate-corpus form, with per-shingle fan-out
    * bounded at df² whatever the corpus (probe 3's dial). The #47
    * discipline carries over exactly: set sizes are counted over the
    * RARE-shingle universe (a doc "contained" via boilerplate alone
    * should not fire — its rare-shingle set is what must be covered),
    * mirrored in the oracle.
    */
  def qDedupContainmentCapped(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingleExploded(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val rare = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= DfCap)
      .select("shingle")
    val exRare = ex.join(rare, "shingle").persist()
    val cntRare = exRare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    containmentPairs(exRare, cntRare)
  }

  val qDedupContainmentCappedSql: String =
    s"""WITH $shingleCteSql,
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= $DfCap),
       |exr AS (SELECT doc_id, ex.shingle FROM ex JOIN rare ON ex.shingle = rare.shingle),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exr GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM exr a JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, least(ca.n, cb.n) AS n_min,
       |  CAST(inter AS DOUBLE) / least(ca.n, cb.n) AS containment
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE least(ca.n, cb.n) >= $ContainmentMinShingles
       |  AND inter * $ContainmentDen >= $ContainmentNum * least(ca.n, cb.n)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Winnowing dials (#176): char-k-gram width, winnow window (the
    * guarantee: any shared substring of length ≥ K + W − 1 = 31 chars
    * surfaces at least one shared fingerprint — Schleimer et al.
    * 2003's (K+W−1, K) correctness property), acceptance τ over the
    * winnowed sets, and the #47-style df cap bounding hub-fingerprint
    * fan-out. W drives the sketch density (~2/(W+1) of the k-gram
    * stream): W=16 keeps ~12% — document near-dup wants a sparse
    * sketch and a long guarantee run, unlike MOSS's short-match code
    * plagiarism dials; the candidate-join input shrinks linearly
    * with it.
    */
  private[graft] val WinnowK = 16
  private[graft] val WinnowW = 16
  private[graft] val WinnowTau = 0.5
  private[graft] val WinnowDfCap = 64L

  /** #176 — `q_dedup_winnow`: WINNOWING fingerprint near-dup
    * (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS detector).
    * Character-grain and position-robust where the #26 word-shingle
    * family is token-grain: any shared run of ≥ K+W−1 = 31 characters
    * is guaranteed to leave a shared fingerprint, so reformatted /
    * re-tokenized copies that word-3-gram Jaccard can miss still
    * collide, while the per-doc sketch stays ~2/(W+1) of the k-gram
    * stream — the compile-once sketch MOSS serves millions of
    * submissions with. Pairs sharing winnowed fingerprints are
    * candidates (the one shuffle, on the fingerprint key, under the
    * #47 df≤64 hub cap); acceptance is Jaccard ≥ τ over the winnowed
    * sets — integer counts, one double division, bit-identical to the
    * oracle.
    *
    * Scale: fingerprinting is map-only higher-order array code (no
    * explode before the candidate join); the join input is the
    * winnowed grain (~12% of k-grams at W=16), df-capped so one
    * boilerplate fingerprint cannot square. The 100 TB posture is
    * exactly #47's: one keyed shuffle, fan-out bounded at df² per
    * fingerprint.
    */
  def qDedupWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(Tables.documents(spark, dir), "doc_id", "text",
      WinnowK, WinnowW, WinnowTau, WinnowDfCap)

  /** The winnow pipeline over an arbitrary frame — the gate #176 binds
    * it to the documents table at the declared dials; the
    * [[graft.api.Graft.winnowPairs]] facade re-exports it.
    */
  private[graft] def winnowPairs(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, tau: Double,
      dfCap: Long): DataFrame = {
    val fps = docs
      .withColumn("norm", contentNormOf(col(textCol)))
      .select(col(idCol).as("doc_id"),
        call("winnow_fps", col("norm"), lit(k), lit(w)).as("fps"))
    val ex = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val rare = ex.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .select("fp")
    // persisted for the same reason as #47: both sides of the candidate
    // self-join AND the per-doc count consume this frame; uncached,
    // each would re-run the sketch explode and the df aggregation.
    // (Deliberately NOT unpersisted here — the frame is lazy and the
    // query executes after this method returns; an eager unpersist
    // would silently void the cache, tripling the work.)
    val exRare = ex.join(rare, "fp").persist()
    val cnt = exRare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = exRare.select(col("doc_id").as("doc_a"), col("fp"))
    val b = exRare.select(col("doc_id").as("doc_b"), col("fp"))
    val inter = a.join(b, "fp")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "shared", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val qDedupWinnowSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
       |  FROM documents),
       |cs AS (
       |  SELECT doc_id,
       |    list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT)) AS cs
       |  FROM t),
       |kh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(cs) >= $WinnowK THEN
       |      list_transform(range(1, len(cs) - ${WinnowK - 2}),
       |        i -> list_reduce(
       |          list_prepend(CAST(0 AS BIGINT), cs[i:i+${WinnowK - 1}]),
       |          (acc, x) -> (acc * 31 + x) % 1000000007))
       |    ELSE CAST([] AS BIGINT[]) END AS kh
       |  FROM cs),
       |fp AS (
       |  SELECT doc_id,
       |    CASE WHEN len(kh) >= $WinnowW THEN
       |      list_distinct(list_transform(range(1, len(kh) - ${WinnowW - 2}),
       |        j -> list_min(kh[j:j+${WinnowW - 1}])))
       |    ELSE CAST([] AS BIGINT[]) END AS fps
       |  FROM kh),
       |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
       |rare AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= $WinnowDfCap),
       |exr AS (SELECT doc_id, ex.fp FROM ex JOIN rare ON ex.fp = rare.fp),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exr GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM exr a JOIN exr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared,
       |  CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= $WinnowTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** #43 — `q_dup_clusters`: connected components over the near-dup
    * graph, labeling every document that appears in at least one
    * near-dup pair with its cluster id (= min doc_id reachable) and
    * cluster size. This is the step a real dedup pipeline runs AFTER
    * pair generation — transitive closure, so "A≈B, B≈C" collapses to
    * one keep-decision per cluster even when A≉C directly.
    *
    * Edges come from the DF-CAPPED pair generator (#47), not the
    * uncapped #26: clustering is the one operator a dedup pipeline
    * must run end-to-end, so its upstream must be the variant that
    * survives boilerplate corpora (docs/SCALING.md probe 3 measured
    * the uncapped candidate join going quadratic; probe 5 measures
    * this composed path staying linear). The trade is #47's, stated
    * there: pairs similar ONLY through over-cap boilerplate shingles
    * do not form edges. On the test corpora (max df 25 < 64) the edge
    * set — and therefore the clustering — is identical to #26's. The
    * oracle composes the capped SQL so the gate stays a hash-match.
    *
    * Spark-first realization: iterative min-label propagation to a
    * fixpoint — per round one join + one min-aggregate on the edge
    * list, a driver-side convergence check (a count, never data), and
    * rounds bounded by the cluster diameter (near-dup clusters are
    * shallow; planted test clusters converge in 1 round). At 100 TB
    * this is the standard Spark CC shape; pathological chain-shaped
    * graphs would switch to the O(log n)-round large-star/small-star
    * variant, same building blocks. The DuckDB oracle computes the
    * same fixpoint independently via a recursive CTE.
    *
    * NOTE: unlike the other query builders, invoking this one runs the
    * iterative computation eagerly (the way an MLlib `fit` does) — the
    * fixpoint cannot be expressed as a single lazy plan. The returned
    * frame is the small materialized label set.
    */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** In-JVM registry of MATERIALIZED #43 label stores, keyed by corpus
    * dir — the gate-path stand-in for the persisted labeling a real
    * deployment maintains (#69's store). The five cluster-composed
    * queries (#43 labels, #152 histogram, #129 keeper election, #107
    * split) previously each re-ran shingle pair generation plus the
    * eager CC fixpoint from scratch inside one verify/bench pass
    * (VERDICT r11 item 1 — the `already cached` warnings); now the
    * first caller fits once and writes the label set to a parquet
    * store, and every later caller — across queries AND across bench
    * reps, surviving `spark.catalog.clearCache()` — reads the store.
    * A parquet-backed label side also carries real size stats, so
    * downstream joins get sane planning without relying on hints.
    * Keyed by dir PLUS a cheap content fingerprint of the corpus
    * files (paths, lengths, mtimes), so a dir whose contents change
    * under a long-lived JVM refits instead of serving stale labels;
    * at 100 TB the store is a real table and this registry is the
    * catalog. Store temp dirs are registered for JVM-exit cleanup;
    * [[invalidateLabelStores]] clears the registry on demand (e.g.
    * if /tmp was reaped under a very long-lived JVM).
    */
  /** A label-store fit with its running thread visible, so a same-key
    * RE-ENTRANT request (a fit closure transitively asking for the
    * labels it is itself computing) fails loudly instead of parking
    * forever on its own FutureTask (review r14: the bin-lock rewrite
    * traded `recursive update` for an undetectable self-deadlock).
    */
  private final class LabelFitTask(body: () => String)
      extends java.util.concurrent.FutureTask[String](() => body()) {
    @volatile var runner: Thread = _
    override def run(): Unit = {
      runner = Thread.currentThread()
      try super.run() finally runner = null
    }
  }

  private val labelStoreByDir =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, LabelFitTask)]()

  /** Temp store dirs awaiting JVM-exit cleanup — ONE shutdown hook
    * drains the queue (a hook per store would grow the hook list
    * without bound under a corpus that keeps changing). */
  private val labelStoreCleanup =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHookOnce: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = labelStoreCleanup.poll()
      while (p != null) { deleteStoreDir(p); p = labelStoreCleanup.poll() }
    }))

  private def deleteStoreDir(path: String): Unit = try {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator().asScala.toSeq
      .sortBy(-_.getNameCount) // deepest first so dirs empty out
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  } catch { case _: Exception => () }

  /** Drop every memoized label store: the next clusterLabels call per
    * dir refits. The temp parquet dirs are left for exit cleanup. */
  def invalidateLabelStores(): Unit = labelStoreByDir.clear()

  /** Fingerprint-checked memoization shared by BOTH label stores (#43
    * whole-corpus and the incremental family's base-slice labeling):
    * one logical entry per (dir, variant), refit when the dir's
    * content fingerprint moves. `fit` writes the labels to the temp
    * dir it is handed.
    *
    * Two lifecycle rules, both from review (r13 ADVICE):
    *  - The fit runs OUTSIDE the map's bin lock: `compute` only swaps
    *    in a FutureTask (cheap), and whichever caller installed it
    *    runs it afterwards while others block on `get` — a minutes-
    *    long Spark fit must not stall unrelated keys sharing the
    *    hash bin. A same-key RE-ENTRANT request from inside the fit
    *    itself still fails loudly (IllegalStateException via the
    *    runner-thread check) — silently parking on one's own
    *    FutureTask would be an undetectable deadlock. A failed fit
    *    is evicted so the next caller retries instead of inheriting
    *    the poison entry.
    *  - A superseded store is NOT deleted eagerly: `clusterLabels`
    *    hands out LAZY frames over `spark.read.parquet(oldPath)`, and
    *    a handle obtained before the corpus changed must stay
    *    readable after another caller triggers a refit. Every store
    *    dir is queued for JVM-exit cleanup at creation, so deferring
    *    deletion leaks at most one bounded temp dir per refit within
    *    one JVM — and a refit only happens when the corpus actually
    *    changed.
    */
  private[graft] def memoizedLabelStore(spark: SparkSession, dir: String,
      variant: String)(fit: String => Unit): String = {
    cleanupHookOnce
    val fp = corpusFingerprint(spark, dir)
    val key = if (variant.isEmpty) dir else s"$dir:$variant"
    val fresh = new LabelFitTask(() => {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-cc-labels-").toString
      labelStoreCleanup.add(out)
      fit(out)
      out
    })
    val entry = labelStoreByDir.compute(key, (_, old) =>
      if (old != null && old._1 == fp) old else (fp, fresh))
    if (entry._2 eq fresh) fresh.run()
    else if (entry._2.runner eq Thread.currentThread())
      throw new IllegalStateException(
        s"re-entrant label-store fit for $key — the fit closure " +
          "transitively requested the labels it is computing")
    try entry._2.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        labelStoreByDir.remove(key, entry)
        throw e.getCause
    }
  }

  /** Fingerprint of the corpus' documents store: name+len+mtime of
    * every file under it, order-insensitively combined. Driver-side
    * metadata-only I/O — no data read. TTL-memoized per dir: the
    * five cluster-composed queries plus bench reps call clusterLabels
    * repeatedly, and re-listing the store on EVERY call would turn
    * the memoization's map-lookup hot path into O(#files) LIST
    * requests per call on an object store; 60 s keeps the staleness
    * protection at one listing per minute per dir. The TTL applies
    * ONLY to object-store schemes: on a local filesystem the listing
    * is a handful of stat calls, and skipping it would reintroduce
    * the exact staleness window the fingerprint exists to close (a
    * dir mutated within 60 s of the last listing silently serving
    * labels fitted on the old corpus — r13 ADVICE). */
  private val fingerprintCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val FingerprintTtlMs = 60000L

  private def corpusFingerprint(spark: SparkSession, dir: String): Long = {
    val localFs = try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val scheme = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getUri.getScheme
      scheme == null || scheme == "file"
    } catch { case _: Exception => false }
    if (localFs) return corpusFingerprintUncached(spark, dir)
    val now = System.currentTimeMillis()
    val cached = fingerprintCache.get(dir)
    if (cached != null && now - cached._2 < FingerprintTtlMs) return cached._1
    val fp = corpusFingerprintUncached(spark, dir)
    fingerprintCache.put(dir, (fp, now))
    fp
  }

  private def corpusFingerprintUncached(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$dir/documents.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0L
    else {
      val it = fs.listFiles(root, /*recursive=*/ true)
      var acc = 0L
      while (it.hasNext) {
        val s = it.next()
        val h = s.getPath.toString.hashCode.toLong * 1000003L ^
          s.getLen * 31L ^ s.getModificationTime
        acc ^= h * -7046029254386353131L // order-insensitive XOR mix
      }
      acc
    }
  }

  /** The #43 labeling (doc_id, cluster_id, cluster_size), from the
    * memoized store — fitting the fixpoint first if this dir (at its
    * current content fingerprint) has not been labeled yet in this
    * JVM. Spec-pinned row-identical to a fresh refit.
    */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = memoizedLabelStore(spark, dir, "") { out =>
      val pairs = qDedupNgramJaccardCapped(spark, dir).select("doc_a", "doc_b")
      graft.api.Graft.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component_id").as("cluster_id"),
          col("component_size").as("cluster_size"))
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }

  /** #152 — `q_dup_cluster_histogram`: the dup-cluster SIZE
    * distribution in power-of-two buckets (bucket = bit length of the
    * cluster size, the #53 rule) — the power-law readout every dedup
    * report plots (how much of the duplication mass sits in a few
    * giant clusters vs many pairs decides whether exact-dedup-first
    * composition or a df-cap is the binding mitigation). Covers the
    * clusters the pair graph defines (size ≥ 2 — singletons never
    * enter #43's edge list, stated here).
    *
    * Scale: rides #43 entirely — one cluster-grain contraction and a
    * ≤64-bucket aggregate on top of the shared pair/label stages; the
    * histogram itself costs nothing at any corpus size.
    */
  def qDupClusterHistogram(spark: SparkSession, dir: String): DataFrame =
    dupClusterHistogram(clusterLabels(spark, dir))

  /** #152 over a caller-supplied labeling — the form a deployment with
    * a persisted #69 label table calls (no refit; the histogram is
    * pure cluster-grain contraction over whatever labels it is given).
    */
  def dupClusterHistogram(labels: DataFrame): DataFrame =
    labels
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .withColumn("bucket", length(bin(col("sz"))).cast("long"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        min("sz").as("min_size"),
        max("sz").as("max_size"))
      .orderBy("bucket")

  lazy val qDupClusterHistogramSql: String =
    s"""WITH cl AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
       |  FROM ($qDupClustersSql) AS labs GROUP BY 1),
       |b AS (
       |  SELECT sz, CAST(length(bin(sz)) AS BIGINT) AS bucket FROM cl)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  MIN(sz) AS min_size, MAX(sz) AS max_size
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  val qDupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($qDedupNgramJaccardCappedSql)
       |),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(v, l) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.l FROM sym s JOIN reach r ON s.dst = r.v),
       |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
       |SELECT doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM lab ORDER BY doc_id""".stripMargin

  /** #129 — `q_keeper_quality`: QUALITY-AWARE keeper election per dup
    * cluster — the doc a production dedup actually keeps. #25/#43
    * elect the MIN-ID canonical (deterministic, cheap, and what the
    * pair-drop rule needs); a curation pipeline keeps the BEST copy
    * instead: near-dup clusters mix crawls of different cleanliness,
    * and dropping the high-quality copy because it has a larger id
    * throws away exactly the text the corpus wanted. Composes the
    * SHARED stage definitions — #43's cluster labeling and #33's
    * quality projection — so the election cannot drift from the gated
    * operators it builds on.
    *
    * The argmax is the #94 STRUCT-MAX (a mergeable aggregate:
    * map-side partials, no per-cluster row buffering), with the sort
    * key `(coalesce(score, −1), −doc_id)` making NULL-scored docs
    * lose to any scored one and ties break to the SMALLER id — both
    * rules stated identically in the oracle's window formulation (the
    * two-independent-expressions gate). Cluster labels are bounded by
    * docs-with-a-dup; everything here is cluster-grain, corpus-scale
    * work ended at the pair generator. The labels come from the
    * memoized [[clusterLabels]] store (one fixpoint per JVM per dir);
    * at 100 TB callers pass the persisted #69 labeling to the
    * labels-supplying overload directly.
    */
  def qKeeperQuality(spark: SparkSession, dir: String): DataFrame =
    qKeeperQuality(spark, dir, clusterLabels(spark, dir))

  /** #129 over a caller-supplied labeling — no refit; the election is
    * cluster-grain work over whatever labels it is given (spec-pinned
    * equal to the store-backed form on the gate corpus).
    */
  def qKeeperQuality(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    val clusters = labels.select("doc_id", "cluster_id", "cluster_size")
    // score ONLY cluster members: the election's inner join discards
    // every unclustered doc anyway, but the quality projection sat
    // BELOW the join, so the whole corpus paid the text measures for
    // rows the join then dropped (r22, guide §1.2 — don't compute
    // things you throw away). The semi-join restricts the scan to the
    // docs-with-a-dup bound BEFORE scoring; broadcast for the same
    // reason the #107 labels join hints it (labels are dup-bounded
    // and must never be the shuffled side at the gate shape).
    val quality = Text.withQuality(
        Tables.documents(spark, dir)
          .join(broadcast(clusters.select("doc_id")), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("quality_score"))
    clusters.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max(struct(
          coalesce(col("quality_score"), lit(-1.0)).as("k"),
          (-col("doc_id")).as("t"),
          col("doc_id").as("keeper_id"),
          col("quality_score").as("keeper_score"))).as("w"),
        max("cluster_size").as("cluster_size"))
      .select(col("cluster_id"), col("w.keeper_id").as("keeper_id"),
        col("w.keeper_score").as("keeper_score"), col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  val qKeeperQualitySql: String =
    s"""WITH clusters AS (SELECT * FROM ($qDupClustersSql)),
       |q AS (SELECT doc_id, quality_score
       |      FROM (${Text.qTextQualitySql})),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, c.cluster_size, q.quality_score,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY COALESCE(q.quality_score, -1) DESC, c.doc_id) AS rk
       |  FROM clusters c JOIN q ON c.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id AS keeper_id, quality_score AS keeper_score,
       |  cluster_size, cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** Split-bin count for #107; bins 0/1 are test/val, the rest train.
    * The SQL twin embeds the same literal.
    */
  private[operators] val SplitBins = 10L

  /** #107 — `q_split_assign`: LEAKAGE-FREE train/val/test assignment —
    * the split is keyed on the #43 dup-CLUSTER label (singletons key
    * on their own id), so near-duplicate documents can never straddle
    * a split: a doc's eval-set membership is decided by
    * `hash31(cluster key) mod 10` (0 → test, 1 → val, else train),
    * and every member of a cluster shares that key BY CONSTRUCTION.
    * Splitting on `hash31(doc_id)` instead would scatter a cluster's
    * members across sets — the classic eval-contamination mistake the spec
    * proves this operator cannot make (and proves the naive split
    * WOULD, on the same corpus). Output is the per-split readout a
    * pipeline checks before writing: docs, distinct assignment
    * groups, and members of multi-doc clusters.
    *
    * Scale: the label set is bounded by docs-with-a-dup (one memoized
    * #43 fixpoint per JVM, [[clusterLabels]]); the assignment itself
    * is one doc_id-keyed left join + integer hash math; the final
    * aggregate is 3 rows. The label side is the parquet-backed store
    * (real size stats), but the explicit broadcast hint stays: the
    * labels are bounded by docs-with-a-dup and must never be the
    * shuffled side (PlanSpec pins it). At 100 TB the labels come from
    * the persisted incremental store (#69) via the labels-supplying
    * overload.
    */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    qSplitAssign(spark, dir, clusterLabels(spark, dir))

  /** #107 over a caller-supplied labeling — no refit (spec-pinned
    * equal to the store-backed form on the gate corpus).
    */
  def qSplitAssign(spark: SparkSession, dir: String,
      labelsIn: DataFrame): DataFrame = {
    import graft.operators.Corpus.hash31
    val labels = labelsIn.select("doc_id", "cluster_id")
    Tables.documents(spark, dir).select("doc_id")
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(hash31(col("ckey")), lit(SplitBins)) === 0, "test")
          .when(pmod(hash31(col("ckey")), lit(SplitBins)) === 1, "val")
          .otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ckey")).as("n_groups"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
          .as("n_dup_docs"))
      .orderBy("split")
  }

  val qSplitAssignSql: String = {
    val ckey = "COALESCE(l.cluster_id, d.doc_id)"
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($qDedupNgramJaccardCappedSql)
       |),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(v, l) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.l FROM sym s JOIN reach r ON s.dst = r.v),
       |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
       |assign AS (
       |  SELECT d.doc_id, l.cluster_id, $ckey AS ckey,
       |    CASE ${graft.operators.Corpus.hash31Sql(ckey)} % $SplitBins
       |      WHEN 0 THEN 'test' WHEN 1 THEN 'val'
       |      ELSE 'train' END AS split
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_groups,
       |  CAST(SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_docs
       |FROM assign GROUP BY split ORDER BY split""".stripMargin
  }

  /** Deterministic "today's ingest batch" stand-in for #61: the test
    * schema has no arrival timestamp, so membership derives from the
    * doc id with integer math both engines evaluate identically
    * (~1/3 of docs). The SQL twin embeds the same literals.
    */
  private val DeltaMod = 3L
  private val DeltaRes = 1L

  /** #68 — `q_dedup_exact_incremental`: the EXACT twin of #61 — flag
    * each new-batch doc whose content fingerprint already exists in
    * the base (or in an earlier-id batch member), with the id it
    * duplicates. This is the cheapest and most common continuous-
    * ingest dedup: one shuffle on the fingerprint (the #25 shape), no
    * candidate join at all. Per delta doc: `dup_of` = the least of
    * (min base id with the same fp, min smaller delta id with the same
    * fp) — the keep-first discipline of #25 applied batch-over-base.
    * Both windows are fp-partitioned; at 100 TB the base fingerprint
    * set would be a persisted index and this becomes a semi-join of
    * the batch against it — same logical contract.
    */
  def qDedupExactIncremental(spark: SparkSession, dir: String): DataFrame = {
    val wFp = Window.partitionBy("fp")
    val wEarlier = Window.partitionBy("fp", "is_delta").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), contentFp.as("fp"),
        (pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes).as("is_delta"))
      .withColumn("base_min",
        min(when(!col("is_delta"), col("doc_id"))).over(wFp))
      .withColumn("earlier_delta_min", min("doc_id").over(wEarlier))
      .where(col("is_delta"))
      .select(col("doc_id"), col("fp"),
        least(col("base_min"), col("earlier_delta_min")).as("dup_of"),
        least(col("base_min"), col("earlier_delta_min")).isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  val qDedupExactIncrementalSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $contentFpSql AS fp,
       |    ((doc_id % $DeltaMod) + $DeltaMod) % $DeltaMod = $DeltaRes AS is_delta
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, fp, is_delta,
       |    min(CASE WHEN NOT is_delta THEN doc_id END)
       |      OVER (PARTITION BY fp) AS base_min,
       |    min(doc_id) OVER (PARTITION BY fp, is_delta ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS earlier_delta_min
       |  FROM t)
       |SELECT doc_id, fp,
       |  least(base_min, earlier_delta_min) AS dup_of,
       |  least(base_min, earlier_delta_min) IS NOT NULL AS is_dup
       |FROM w WHERE is_delta ORDER BY doc_id""".stripMargin

  /** The delta-vs-base near-dup transform shared by #61 and the
    * facade's `incrementalDedupPairs`: `docs` carries a boolean
    * `deltaCol` marking the new batch; output is one row per
    * (new doc, earlier doc) pair at Jaccard ≥ tau over the df≤cap
    * shingle vocabulary, where "earlier" = any base doc, or a delta
    * doc with a smaller id (arrival order within the batch).
    */
  private[graft] def incrementalJaccard(docs: DataFrame, idCol: String,
      textCol: String, deltaCol: String, n: Int, tau: Double,
      dfCap: Int): DataFrame = {
    val ex0 = docs
      .select(col(idCol).as("id"), col(deltaCol).as("is_delta"),
        explode(call("word_shingle_hashes", col(textCol), lit(n))).as("shingle"))
    incrementalPairsFromExploded(ex0, tau, dfCap)
  }

  /** The candidate-join tail of the incremental family, starting from
    * the already-exploded flagged frame (id, is_delta, shingle-hash) —
    * shared by the from-text path ([[incrementalJaccard]]) and the
    * facade's persisted-index path
    * ([[graft.api.Graft.incrementalDedupPairsIndexed]]), so the cap,
    * orientation, and jaccard discipline cannot drift between them.
    */
  private[graft] def incrementalPairsFromExploded(ex0: DataFrame,
      tau: Double, dfCap: Int): DataFrame = {
    // every downstream branch re-references its input frame, so the
    // input is materialized ONCE here and all fan-out reads the cache.
    // Capped: ex0 is scanned by the df aggregate AND the rare-join —
    // without this persist each scan re-runs whatever produced ex0
    // (the shingling from text, the index scan from parquet: probe 8
    // measured both). The capped result persists too (three consumers:
    // counts + both join sides). EAGER result (localCheckpoint) so the
    // staging caches can be released in the finally — no cached
    // entries outlive the call (the kmeansCentroids lifecycle).
    var staged: List[DataFrame] = Nil
    try {
      val ex =
        if (dfCap == Int.MaxValue) {
          val ex0p = ex0.persist(); staged ::= ex0p; ex0p
        } else {
          val ex0p = ex0.persist(); staged ::= ex0p
          val rare = ex0p.groupBy("shingle").agg(count(lit(1)).as("df"))
            .where(col("df") <= dfCap).select("shingle")
          val exp = ex0p.join(rare, "shingle").persist(); staged ::= exp
          exp
        }
      val cnt = ex.groupBy("id").agg(count(lit(1)).as("n"))
      val newSide = ex.where(col("is_delta"))
        .select(col("id").as("id_new"), col("shingle"))
      val earlier = ex.select(col("id").as("id_old"),
        col("is_delta").as("old_is_delta"), col("shingle"))
      newSide.join(earlier, Seq("shingle"))
        .where(!col("old_is_delta") || col("id_old") < col("id_new"))
        .groupBy("id_new", "id_old").agg(count(lit(1)).as("inter"))
        .join(cnt.select(col("id").as("id_new"), col("n").as("nn")), "id_new")
        .join(cnt.select(col("id").as("id_old"), col("n").as("no")), "id_old")
        .withColumn("jaccard",
          col("inter").cast("double") / (col("nn") + col("no") - col("inter")))
        .where(col("jaccard") >= tau)
        .select("id_new", "id_old", "inter", "jaccard")
        .localCheckpoint(true)
    } finally staged.foreach(_.unpersist())
  }

  /** The steady-state incremental tail over a STORED base shingle
    * index ([[graft.api.Graft.incrementalDedupPairsIndexed]]) — same
    * output as [[incrementalPairsFromExploded]] on disjoint base/delta
    * id sets (spec-pinned), but shaped for a base that does not fit
    * any cache:
    *
    *   - the base index is never persisted and never union'd with the
    *     delta, so a bucketed-by-shingle stored index keeps its scan
    *     partitioning through every step — zero base-side Exchange;
    *   - the df cap is applied as a broadcast ANTI join against the
    *     over-cap shingle set (distinct shingles with df > cap are few
    *     by construction — they are the heavy ones) instead of an
    *     inner join against the corpus-sized rare set;
    *   - jaccard denominators are counted only for docs that appear in
    *     a candidate pair (inner joins discard the rest anyway), so
    *     there is no corpus-wide groupBy(id) — base rows fold through
    *     a broadcast semi join on the involved-id set first.
    *
    * Per ingest the base index is scanned at most 3× (df aggregate —
    * skipped uncapped — candidate join, denominators); everything
    * retained across steps (delta, over-cap set, candidate pairs) is
    * O(batch), not O(corpus).
    *
    * `dfCap` is AS-OF-INGEST: measured against (base + delta) at each
    * call, while the one-shot batch queries cap on global df. Results
    * across an ingest history equal the one-shot run exactly iff no
    * shingle crosses the cap mid-history (probe 43 witnesses this at
    * ×10 mass); under a binding cap, earlier verdicts stand as
    * computed against their then-smaller capped universe — see the
    * winnowDedupSink scaladoc for the measured drift.
    */
  private[graft] def incrementalPairsStored(base: DataFrame,
      delta0: DataFrame, tau: Double, dfCap: Int,
      containment: Boolean = false): DataFrame = {
    // O(batch) frames persist (delta, over-cap set, candidate pairs);
    // the base index NEVER does. EAGER result + finally-unpersist so
    // no cached entries outlive the call (the kmeansCentroids
    // lifecycle) — per-ingest callers in a long-lived session need no
    // cache bookkeeping.
    var staged: List[DataFrame] = Nil
    def stage(df: DataFrame): DataFrame = {
      val p = df.persist(); staged ::= p; p
    }
    try incrementalPairsStoredPlan(base, delta0, tau, dfCap, stage,
        containment)
      .localCheckpoint(true)
    finally staged.foreach(_.unpersist())
  }

  /** The lazy plan behind [[incrementalPairsStored]], with the
    * O(batch)-frame persists injected via `stage` — `identity` yields
    * the pure plan (what GraftApiSpec inspects for the bucketed,
    * exchange-free base scan; the eager wrapper's checkpoint hides the
    * executed plan behind a Scan ExistingRDD).
    */
  private[graft] def incrementalPairsStoredPlan(base: DataFrame,
      delta0: DataFrame, tau: Double, dfCap: Int,
      stage: DataFrame => DataFrame,
      containment: Boolean = false): DataFrame = {
    val delta = stage(delta0.select(col("id"), col("shingle")))
    val (baseR, deltaR) =
      if (dfCap == Int.MaxValue)
        (base.select(col("id"), col("shingle")), delta)
      else {
        val baseDf = base.groupBy("shingle").agg(count(lit(1)).as("bdf"))
        val deltaDf = delta.groupBy("shingle").agg(count(lit(1)).as("ddf"))
        val over = stage(baseDf.join(deltaDf, Seq("shingle"), "full_outer")
          .where(coalesce(col("bdf"), lit(0L)) +
            coalesce(col("ddf"), lit(0L)) > dfCap)
          .select("shingle"))
        val dR = stage(delta.join(broadcast(over), Seq("shingle"), "left_anti"))
        (base.join(broadcast(over), Seq("shingle"), "left_anti"), dR)
      }
    val newSide = deltaR.select(col("id").as("id_new"), col("shingle"))
    val candBase = newSide
      .join(baseR.select(col("id").as("id_old"), col("shingle")), Seq("shingle"))
    val candDelta = newSide
      .join(deltaR.select(col("id").as("id_old"), col("shingle")), Seq("shingle"))
      .where(col("id_old") < col("id_new"))
    val inter = stage(candBase.unionByName(candDelta)
      .groupBy("id_new", "id_old").agg(count(lit(1)).as("inter")))
    val involvedOld = inter.select(col("id_old").as("id")).distinct()
    val cntNew = deltaR.groupBy("id").agg(count(lit(1)).as("n"))
    val cntOld = cntNew.unionByName(
      baseR.join(broadcast(involvedOld), Seq("id"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("n")))
    val scored = inter
      .join(cntNew.select(col("id").as("id_new"), col("n").as("nn")), "id_new")
      .join(cntOld.select(col("id").as("id_old"), col("n").as("no")), "id_old")
    if (containment)
      // the #124 acceptance on the incremental candidates: min-side
      // coverage, cross-multiplied, with the short-set guard —
      // "is this new doc (or one of its docs) a quote of something
      // already stored". tau is unused here: the containment
      // threshold is the fixed #124 rational, as in the batch flavor.
      scored
        .withColumn("n_min", least(col("nn"), col("no")))
        .where(col("n_min") >= ContainmentMinShingles &&
          col("inter") * ContainmentDen >= lit(ContainmentNum) * col("n_min"))
        .withColumn("containment", col("inter").cast("double") / col("n_min"))
        .select("id_new", "id_old", "inter", "n_min", "containment")
    else
      scored
        .withColumn("jaccard",
          col("inter").cast("double") / (col("nn") + col("no") - col("inter")))
        .where(col("jaccard") >= tau)
        .select("id_new", "id_old", "inter", "jaccard")
  }

  /** #61 — `q_dedup_incremental`: dedup a NEW ingest batch against an
    * already-deduped base without re-pairing the base against itself —
    * the shape a continuously-fed training corpus actually runs (a
    * full #26/#47 re-run re-derives every base×base pair on every
    * ingest; this derives none). One row per (new doc, earlier doc)
    * near-dup pair at Jaccard ≥ τ over the df≤[[DfCap]] vocabulary,
    * "earlier" = any base doc or a smaller-id delta doc — so within
    * the batch each doc is checked against those before it, exactly
    * the keep-first discipline of #25.
    *
    * Scale shape: the candidate join keys delta-side rows against the
    * full exploded index, so each shingle bucket contributes
    * |delta ∩ bucket| × |bucket| pairs instead of |bucket|² — with
    * |delta| ≪ |base| at steady state, candidate volume is linear in
    * the batch size, not the corpus. The df cap bounds the worst
    * bucket; base shingles would be a persisted index in production
    * (re-derived here because the gate owns no state between runs).
    * Agrees with #47 restricted to delta-touching pairs (orientation
    * aside) — the trade it inherits is #47's, stated there.
    */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incrementalJaccard(
      Tables.documents(spark, dir).withColumn("is_delta",
        pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes),
      "doc_id", "text", "is_delta", n = 3, tau = JaccardTau, dfCap = DfCap)
      .select(col("id_new").as("doc_new"), col("id_old").as("doc_old"),
        col("inter"), col("jaccard"))
      .orderBy("doc_new", "doc_old")

  // ((x % m) + m) % m folds DuckDB's % to Spark's pmod (negative ids)
  val qDedupIncrementalSql: String =
    s"""WITH $shingleCteSql,
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= $DfCap),
       |exr AS (SELECT doc_id, ex.shingle FROM ex JOIN rare ON ex.shingle = rare.shingle),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exr GROUP BY doc_id),
       |pairs AS (
       |  SELECT b.doc_id AS doc_new, a.doc_id AS doc_old, count(*) AS inter
       |  FROM exr b JOIN exr a ON a.shingle = b.shingle
       |  WHERE ((b.doc_id % $DeltaMod) + $DeltaMod) % $DeltaMod = $DeltaRes
       |    AND (((a.doc_id % $DeltaMod) + $DeltaMod) % $DeltaMod <> $DeltaRes
       |         OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2)
       |SELECT doc_new, doc_old, inter,
       |  CAST(inter AS DOUBLE) / (cn.n + co.n - inter) AS jaccard
       |FROM pairs
       |JOIN cnt cn ON doc_new = cn.doc_id
       |JOIN cnt co ON doc_old = co.doc_id
       |WHERE CAST(inter AS DOUBLE) / (cn.n + co.n - inter) >= $JaccardTau
       |ORDER BY doc_new, doc_old""".stripMargin

  /** The #47 capped-pair discipline as composable SQL over an
    * arbitrary documents-shaped relation — #69's oracle restricts it
    * to the base corpus. Pair columns only (the consumer is an edge
    * list); cap + τ literals shared with the Spark side.
    */
  private def cappedPairsSqlFrom(rel: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM $rel),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 3
       |      THEN list_distinct(list_transform(range(1, len(t) - 1),
       |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |      ELSE CAST([] AS VARCHAR[]) END AS shingles
       |  FROM toks),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= $DfCap),
       |exr AS (SELECT doc_id, ex.shingle FROM ex JOIN rare ON ex.shingle = rare.shingle),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM exr GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM exr a JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $JaccardTau""".stripMargin

  /** #69 — `q_dup_clusters_incremental`: cluster MAINTENANCE on
    * ingest — the composition a continuously-fed corpus actually runs.
    * The base corpus (doc_id % 3 ≠ 1, #61's split) arrives already
    * clustered (capped pairs over the base only → CC, both re-derived
    * here because the gate owns no state between runs); the new batch
    * contributes only its delta-vs-earlier pairs (#61 — no base×base
    * re-pairing); [[graft.api.Graft.mergeComponents]] folds those new
    * edges into the existing labeling by contracting endpoints to
    * their current cluster ids and running CC over the batch-sized
    * contracted graph only. Same output shape as #43.
    *
    * Equality contract (the oracle checks it): the result is EXACTLY
    * CC over (base pairs ∪ incremental pairs) — maintenance loses
    * nothing vs a full re-cluster over that edge set. Note the edge
    * set itself is not #43's: #43 caps df over the whole corpus in one
    * pass, while continuous ingest caps the base vocabulary at base
    * time and the batch vocabulary at ingest time (#61) — the same
    * already-documented #47 cap trade, applied per arrival epoch.
    *
    * Like #43, invoking this runs the (batch-sized) fixpoint eagerly.
    * Both pair generators read ONE persisted exploded-shingle pass
    * over the corpus (shingling is the dominant map-side cost; the
    * base generator caps df over the base subset, the incremental one
    * over base+delta — each per its own contract).
    */
  def qDupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ex0 = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"),
        (pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes).as("is_delta"),
        explode(call("word_shingle_hashes", col("text"), lit(3))).as("shingle"))
      .persist()
    // the base labeling is the "arrives already clustered" premise of
    // this operator — a real deployment reads it from the persisted
    // #69 store, so the gate path memoizes it the same way the #43
    // labels are ([[clusterLabels]]'s registry, variant "base"
    // because the base caps df over the base SUBSET, a different
    // labeling than #43's whole-corpus cap; same fingerprint keying,
    // so a changed corpus refits this store too)
    val basePath = memoizedLabelStore(spark, dir, "base") { out =>
      val exB0 = ex0.where(!col("is_delta"))
        .select(col("id").as("doc_id"), col("shingle"))
      val rareB = exB0.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= DfCap).select("shingle")
      val exB = exB0.join(rareB, "shingle").persist()
      val cntB = exB.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val basePairs = jaccardPairs(exB, cntB)
      graft.api.Graft.connectedComponents(basePairs, "doc_a", "doc_b")
        .write.mode("overwrite").parquet(out)
      exB.unpersist()
    }
    val baseLabels = spark.read.parquet(basePath)
    val incPairs = incrementalPairsFromExploded(ex0, JaccardTau, DfCap)
      .select("id_new", "id_old")
    graft.api.Graft.mergeComponents(baseLabels, incPairs,
      "id_new", "id_old")
      .select(col("id").as("doc_id"), col("component_id").as("cluster_id"),
        col("component_size").as("cluster_size"))
      .orderBy("doc_id")
  }

  val qDupClustersIncrementalSql: String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM (
       |${cappedPairsSqlFrom(s"(SELECT * FROM documents WHERE ((doc_id % $DeltaMod) + $DeltaMod) % $DeltaMod <> $DeltaRes)")}
       |  )
       |  UNION ALL
       |  SELECT doc_new, doc_old FROM ($qDedupIncrementalSql)
       |),
       |sym AS (
       |  SELECT src, dst FROM edges
       |  UNION ALL
       |  SELECT dst, src FROM edges),
       |reach(v, l) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.l FROM sym s JOIN reach r ON s.dst = r.v),
       |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
       |SELECT doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM lab ORDER BY doc_id""".stripMargin

  /** #28 — 64-bit SimHash, HASH-GATED via the certification pattern
    * (r18 verdict item 2; previously rows-only). The production
    * near-dup PAIR SET — hamming ≤ 3 over per-token-xxhash64
    * signatures — is fundamentally not oracle-replayable: the
    * signature family has no DuckDB twin AND no text-space threshold
    * reproduces its set (measured: radius-3 xx pairs and exact-
    * Jaccard pairs INTERLEAVE — a 0.976-Jaccard pair missed at
    * hamming 4 while a 0.967 pair is found at 3 — so a #27-style
    * truth-plus-recall-flag gate cannot exist for it). What the gate
    * therefore certifies, each piece against the strongest available
    * referee:
    *   - `sig_ok` — the codegen'd ONE-PASS [[graft.functions
    *     .SimHash64]] expression equals the compositional explode →
    *     per-bit ±multiplicity-sum → sign-pack REFERENCE formulation
    *     per document (the bit-identity its scaladoc claims),
    *     bool_and-folded per source; the oracle asserts literal TRUE.
    *     This is a real differential test of the custom expression's
    *     tokenizer/accumulator/packing on real data — any divergence
    *     flips the flag and fails the hash.
    *   - `docs_signed` — the signature domain (docs with ≥1 token),
    *     recomputed independently by DuckDB from the raw texts.
    *   - The banding/verification MACHINERY ([[hammingNearDupPairs]],
    *     shared verbatim with #189) is hash-gated end-to-end by the
    *     cross-engine twin `q_dedup_simhash_gated`, whose oracle
    *     brute-forces all pairs; its radius-3 completeness is the
    *     pigeonhole theorem — signature-family-independent — and
    *     DedupSpec additionally pins banded == brute for THIS
    *     xxhash64 flavor on the gate corpus.
    * The pair-SERVING production form stays on [[graft.api.Graft
    * .simhashPairs]] (one-pass signatures, 7-chunk/4-subset banding,
    * bit_count verification — the scale shape documented there).
    */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // token-less docs carry no signature (the historical contract —
    // they produced no exploded rows in the old formulation)
    val docs = Tables.documents(spark, dir)
      .where(expr("exists(split(text, ' '), t -> t <> '')"))
      .select(col("doc_id"), col("source"), col("text"))
    // the REFERENCE formulation the expression's scaladoc claims
    // bit-identity with: explode tokens, xxhash64 (Spark's fixed seed
    // 42 — the same primitive the expression calls), ±1 per bit
    // weighted by multiplicity, bit i = 1 iff its counter > 0
    val sums = docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy("doc_id")
      .agg(
        sum(when(shiftrightunsigned(col("h"), 0).bitwiseAND(lit(1L)) === 1L,
          lit(1)).otherwise(lit(-1))).as("c0"),
        (1 until 64).map { i =>
          sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L,
            lit(1)).otherwise(lit(-1))).as(s"c$i")
        }: _*)
    val refSig = (0 until 64)
      .map(i => when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    docs.select(col("doc_id"), col("source"),
        call("simhash64", col("text")).as("sig"))
      .join(sums.select(col("doc_id"), refSig.as("ref_sig")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_signed"),
        expr("bool_and(sig = ref_sig)").as("sig_ok"))
      .orderBy("source")
  }

  /** #28's oracle: the signature domain recomputed from raw texts +
    * the literal-TRUE differential flag — a one-pass/compositional
    * divergence in the production expression fails the hash gate.
    */
  val qDedupSimhashSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS docs_signed,
      |  TRUE AS sig_ok
      |FROM documents
      |WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
      |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin

  /** Banded candidate generation + exact verification for 64-bit
    * signature near-dup at Hamming radius ≤ `hammingMax` — the #28
    * machinery factored out so every 64-bit perceptual signature
    * (simhash text, image average-hash, any future audio fingerprint)
    * rides the same scale-proven path. The 64 bits split into 7
    * chunks (10+9×6); candidates key on each of the C(7,4) = 35
    * four-chunk combinations, so recall at radius 3 is PERFECT by
    * pigeonhole (≤ 3 corrupted chunks leave a 4-subset intact on both
    * sides), and the ~37-bit key space keeps random collisions
    * negligible at any corpus size (the 4×16-bit classic went
    * superlinear at 16× corpus — docs/SCALING.md probe 10).
    * Verification = bit_count(XOR) on deduplicated candidate pairs
    * only; signatures re-attach AFTER the pair distinct.
    *
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b, unordered.
    * The signature frame is persisted for its four consumers
    * (both self-join sides + both re-attach joins); CacheManager keys
    * on the canonical plan, so repeat invocations share one entry
    * (the shingleSets lifecycle — the bench clears between queries).
    */
  def hammingNearDupPairs(sigIn: DataFrame, idCol: String, sigCol: String,
      hammingMax: Int = 3): DataFrame = {
    require(hammingMax >= 0 && hammingMax <= 3,
      s"the 7-chunk/4-subset banding guarantees recall only to radius 3, got $hammingMax")
    val sim = sigIn.select(col(idCol).as("_hid"), col(sigCol).as("_hsig"))
      .persist()
    val bounds = Array(0, 10, 19, 28, 37, 46, 55, 64)
    val chunkCols = (0 until 7).map { j =>
      shiftrightunsigned(col("_hsig"), bounds(j))
        .bitwiseAND(lit((1L << (bounds(j + 1) - bounds(j))) - 1))
    }
    val keyCols = (0 until 7).combinations(4).toSeq.zipWithIndex.map {
      case (subset, idx) => xxhash64((lit(idx) +: subset.map(chunkCols)): _*)
    }
    val keyed = sim.select(col("_hid"),
      posexplode(array(keyCols: _*)).as(Seq("band", "bucket")))
    val pairs = keyed.select(col("_hid").as("doc_a"), col("band"), col("bucket"))
      .join(keyed.select(col("_hid").as("doc_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    pairs
      .join(sim.select(col("_hid").as("doc_a"), col("_hsig").as("sim_a")), "doc_a")
      .join(sim.select(col("_hid").as("doc_b"), col("_hsig").as("sim_b")), "doc_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= hammingMax)
      .select("doc_a", "doc_b", "hamming")
  }

  /** #189 — `q_dedup_simhash_gated`: #28's simhash near-dup pipeline,
    * HASH-GATED (r14 verdict item 2) on the cross-engine polynomial
    * family: per-token 60-bit draw v = h₁ + 2³⁰·h₂ (two Horner folds
    * over code points, primes 1e9+7 and 998244353 — both < 2³⁰, so
    * the draws pack without overlap), multiplicity-weighted ±1 per
    * bit, bit j = 1 iff its counter > 0 — computed in one map-side
    * pass by the codegen'd [[graft.functions.SimHashPoly]]. Candidate
    * generation and verification ride the SAME width-agnostic
    * 7-chunk/4-subset [[hammingNearDupPairs]] machinery as #28 (the
    * top chunk carries 4 dead bits on both sides — recall at radius 3
    * stays perfect by pigeonhole); the DuckDB oracle verifies the
    * result from the other direction, brute-force all-pairs
    * bit_count(xor) over its own re-derivation of every signature —
    * same set, different plan, which is exactly what makes the gate
    * meaningful. The production #28 keeps xxhash64's 64 bits.
    */
  def qDedupSimhashGated(spark: SparkSession, dir: String): DataFrame = {
    val sim = Tables.documents(spark, dir)
      .where(expr("exists(split(text, ' '), t -> t <> '')"))
      .select(col("doc_id"), call("simhash_poly", col("text")).as("simhash"))
    hammingNearDupPairs(sim, "doc_id", "simhash", hammingMax = 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** #189's oracle — re-derives every 60-bit signature (two
    * list_reduce folds per token, 60 bit-counters per doc), then
    * finds pairs at Hamming ≤ 3 by brute-force all-pairs XOR — the
    * O(n²) plan only an oracle can afford, independent of the banding
    * the Spark side uses for recall.
    */
  val qDedupSimhashGatedSql: String = {
    val P1 = graft.functions.PolyHash.Mod1
    val P2 = graft.functions.PolyHash.Mod2
    val S2 = graft.functions.PolyHash.Shift2
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents),
       |tv AS (
       |  SELECT doc_id,
       |    list_transform(string_split(unnest(t), ''), c -> CAST(ascii(c) AS BIGINT)) AS codes
       |  FROM toks),
       |hv AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
       |      (acc, x) -> (acc * 31 + x) % $P1)
       |    + $S2 * list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
       |      (acc, x) -> (acc * 131 + x) % $P2) AS v
       |  FROM tv),
       |bitsum AS MATERIALIZED (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM hv CROSS JOIN (SELECT CAST(r.range AS INT) AS j FROM range(0, 60) r) js
       |  GROUP BY 1, 2),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)
       |      AS BIGINT) AS sig
       |  FROM bitsum GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Window width in tokens for #133. The published rule (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better")
    * drops ≥50-token verbatim substrings shared across documents; the
    * detection primitive is the same at any width — a doc pair shares
    * a ≥W-token verbatim substring iff they share one W-token window —
    * and the gate corpus's planted copies are short, so the operator
    * width is 8 and production dials it to the paper's 50.
    */
  private val SubstringW = 8

  /** #133 — `q_dedup_substring`: cross-document VERBATIM-substring
    * dedup — the extent-grain rule (Lee et al. 2022) that lexical
    * set-similarity (#26) and doc-in-doc containment (#124) both miss:
    * two long documents sharing one copied paragraph have near-zero
    * Jaccard AND near-zero containment, yet the paragraph is exactly
    * what substring dedup must strip. Reference analogue: none — the
    * reference dedups at whole-record grain (UniqueVisitApp.java:37);
    * this is the LLM-curation extension the brief asks for.
    *
    * Shape, Spark-first and never all-pairs:
    *  1. FINGERPRINT (map-side, codegen'd): per doc, every W-token
    *     window hashed via `transform(sequence(...))` + xxhash64 over
    *     the joined slice — no shuffle, no UDF.
    *  2. FLAG: one aggregate on the window hash; a window is
    *     duplicated when it occurs in 2..[[DfCap]] DISTINCT docs. The
    *     upper cap is #47's boilerplate dial: a site-template window
    *     present in half the corpus is boilerplate, not copying, and
    *     capping it keeps the flagged set's join fan-out bounded
    *     (each window row matches at most one flagged key, so stage 3
    *     is LINEAR in corpus windows whatever the corpus shape — the
    *     pair-grain df² blowup never exists at this grain).
    *  3. EXTENT MERGE: flagged windows join back (semi-shaped, ≤1
    *     match per row), then per-doc interval union: covered token
    *     positions counted via a W-wide `sequence` explode, and
    *     maximal extents counted with one lag() — equal-width
    *     intervals sorted by start merge exactly when the gap
    *     ≤ W, so the lag rule IS the interval union.
    *
    * Output is per-doc coverage — `n_dup_tokens` (tokens inside some
    * cross-doc shared ≥W-token extent), `n_extents` (maximal merged
    * extents), `dup_frac` — the numbers the drop/strip decision
    * consumes. Token-less docs keep the dirty-record rule: visible,
    * NULL `dup_frac`.
    */
  def qDedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
    // persisted: the flag aggregate and the coverage join both consume
    // the exploded window grain (same lifecycle as shingleSets; the
    // bench clears caches between queries)
    val wins = base
      .where(col("n_tokens") >= SubstringW)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), col("n_tokens").cast("int") - SubstringW + 1),
          i => struct(i.cast("long").as("pos"),
            xxhash64(concat_ws(" ", slice(col("t"), i, lit(SubstringW))))
              .as("win")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.win").as("win"))
      .persist()
    val flagged = wins.groupBy("win")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df").between(2, DfCap))
      .select("win")
    val hits = wins.join(flagged, "win").select("doc_id", "pos")
    val cov = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + SubstringW - 1)).as("cp"))
      .groupBy("doc_id").agg(countDistinct("cp").as("n_dup_tokens"))
    val ext = hits
      .withColumn("prev",
        lag("pos", 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("starts",
        (col("prev").isNull || col("pos") - col("prev") > SubstringW).cast("long"))
      .groupBy("doc_id").agg(sum("starts").as("n_extents"))
    base.select("doc_id", "n_tokens")
      .join(cov, Seq("doc_id"), "left")
      .join(ext, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_extents"), lit(0L)).as("n_extents"),
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            coalesce(col("n_dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val qDedupSubstringSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS t
       |  FROM documents),
       |base AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
       |idx AS (
       |  SELECT doc_id, t, unnest(range(1, len(t) - ${SubstringW - 2})) AS pos0
       |  FROM base WHERE n_tokens >= $SubstringW),
       |wins AS (
       |  SELECT doc_id, CAST(pos0 AS BIGINT) AS pos,
       |    array_to_string(t[pos0:pos0 + ${SubstringW - 1}], ' ') AS win
       |  FROM idx),
       |flagged AS (
       |  SELECT win FROM wins GROUP BY win
       |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $DfCap),
       |hits AS (SELECT doc_id, pos FROM wins JOIN flagged USING (win)),
       |cov AS (
       |  SELECT doc_id, CAST(count(DISTINCT pos + off) AS BIGINT) AS n_dup_tokens
       |  FROM hits, range(0, $SubstringW) AS o(off) GROUP BY doc_id),
       |ext AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN prev IS NULL OR pos - prev > $SubstringW
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extents
       |  FROM (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM hits)
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens,
       |  COALESCE(e.n_extents, 0) AS n_extents,
       |  CASE WHEN b.n_tokens = 0 THEN NULL
       |    ELSE round(CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
       |  END AS dup_frac
       |FROM base b
       |LEFT JOIN cov c USING (doc_id)
       |LEFT JOIN ext e USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Line-grain document-frequency threshold for #134: a line is
    * corpus-duplicated when its exact trimmed content appears in at
    * least this many DISTINCT documents.
    */
  private[graft] val LineMinDocs = 2L

  /** The #134 line grain on any frame with an id + text column —
    * trimmed non-blank `\n`-segments keyed by codegen'd xxhash64 (8
    * bytes shuffled per line, never the text), shared by the gated
    * query and its streaming twin (#142) so the grain cannot drift.
    * Columns: `doc_id`, `line_chars`, `lk`.
    */
  private[graft] def lineGrain(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("raw"))
      .select(col("doc_id"), trim(col("raw")).as("line"))
      .where(length(col("line")) > 0)
      .select(col("doc_id"), length(col("line")).cast("long").as("line_chars"),
        xxhash64(col("line")).as("lk"))

  /** #134 — `q_dedup_lines`: cross-document LINE dedup — the
    * C4/CCNet/RefinedWeb curation rule "remove lines duplicated across
    * documents" (navigation bars, cookie banners, boilerplate footers
    * repeat verbatim across pages while the surrounding documents are
    * unique at every other grain). A line = a `\n`-split segment,
    * trimmed; whitespace-only segments are ignored. A line whose
    * trimmed content occurs in ≥ [[LineMinDocs]] distinct docs is
    * dropped EVERYWHERE (the RefinedWeb form — no canonical copy
    * survives), and the per-doc readout is what the strip decision
    * consumes: line counts and the retained character fraction.
    *
    * Scale shape: explode to line grain (map-side; the line key is a
    * codegen'd xxhash64, 8 bytes shuffled per line, never the text),
    * ONE df aggregate on the key, one ≤1-match-per-row join back, one
    * per-doc rollup — linear end to end, no pair grain, boilerplate-
    * proof by construction (a line in every doc costs its df count,
    * not df²). Docs with no retainable lines (empty/whitespace text)
    * keep the dirty-record rule: visible, zero counts, NULL
    * `retained_frac`.
    */
  /** The #134 readout on any frame with an id + text column — shared
    * by the gated query and the [[graft.api.Graft.lineDedup]] facade.
    */
  private[graft] def lineDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // persisted: the df aggregate and the per-doc rollup both read the
    // exploded line grain
    val lines = lineGrain(df, idCol, textCol).persist()
    val flagged = lines.groupBy("lk")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") >= LineMinDocs)
      .select(col("lk"), lit(1L).as("is_dup"))
    val perDoc = lines
      .join(flagged, Seq("lk"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_lines"),
        sum(col("line_chars")).as("chars"),
        sum(col("line_chars") * coalesce(col("is_dup"), lit(0L))).as("dup_chars"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        when(coalesce(col("chars"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("chars") - col("dup_chars")).cast("double") / col("chars"), 6))
          .as("retained_frac"))
  }

  def qDedupLines(spark: SparkSession, dir: String): DataFrame =
    lineDedup(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val qDedupLinesSql: String =
    s"""WITH l0 AS (
       |  SELECT doc_id, trim(l) AS line FROM (
       |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
       |  WHERE length(trim(l)) > 0),
       |k AS (SELECT doc_id, line, CAST(length(line) AS BIGINT) AS line_chars FROM l0),
       |flagged AS (
       |  SELECT line FROM k GROUP BY line
       |  HAVING count(DISTINCT doc_id) >= $LineMinDocs),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN f.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       |    sum(line_chars) AS chars,
       |    sum(CASE WHEN f.line IS NOT NULL THEN line_chars ELSE 0 END) AS dup_chars
       |  FROM k LEFT JOIN flagged f ON k.line = f.line GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(pd.n_lines, 0) AS n_lines,
       |  COALESCE(pd.n_dup_lines, 0) AS n_dup_lines,
       |  CASE WHEN COALESCE(pd.chars, 0) = 0 THEN NULL
       |    ELSE round(CAST(pd.chars - pd.dup_chars AS DOUBLE) / pd.chars, 6)
       |  END AS retained_frac
       |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin
}
