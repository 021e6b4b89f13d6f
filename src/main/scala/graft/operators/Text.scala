package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SqlFunctions.call

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.3
  * #32-35): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting.
  *
  * Scale notes: every operator here is a pure per-row projection —
  * zero shuffles beyond the presentation sort, fully inside whole-stage
  * codegen (higher-order functions on split arrays, no UDFs). At
  * 100 TB these run at parquet-scan speed.
  */
object Text {

  /** Shared stopword list (tiny; inlined as a literal in both engines). */
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopSqlList = Stopwords.map(w => s"'$w'").mkString(", ")

  private def tokens = split(col("text"), " ")

  /** Null-guarded denominator: a zero-token (empty/whitespace-only)
    * or zero-char document must yield NULL ratios, not kill the whole
    * job — under ANSI (the Spark 4 default) a plain `x / 0` THROWS
    * [DIVIDE_BY_ZERO], so one empty doc in a 100 TB corpus would fail
    * the entire quality pass and everything composed on it (#72, #98).
    * DuckDB returns NULL for double division by zero, so the NULL
    * convention is also exactly what the oracles already compute —
    * verified by the planted-corpus parity probe (empty, whitespace-
    * only, and single-token docs).
    */
  private def nz(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  /** Whitespace token count shared by #34 and #53 — one definition of
    * "how many tokens"; its SQL twin must change in lockstep.
    */
  private[graft] def wsTokenCount =
    size(filter(tokens, t => t =!= "")).cast("long")
  private[operators] val wsTokenCountSql =
    "CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)"

  /** #32 — n-gram/stopword language-ID heuristic: English stopword
    * density over the token stream, thresholded against the labeled
    * `lang` column.
    */
  def qTextLangid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(filter(tokens, t => t =!= "")).cast("long"))
      .withColumn("stop_ct",
        size(filter(tokens, t => t.isin(Stopwords: _*))).cast("long"))
      .withColumn("stop_ratio",
        col("stop_ct").cast("double") / nz(col("n_tokens")))
      .withColumn("lang_pred",
        when(col("stop_ratio") >= 0.04, "en").otherwise("unknown"))
      .select("doc_id", "lang", "n_tokens", "stop_ratio", "lang_pred")
      .orderBy("doc_id")

  val qTextLangidSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopSqlList))) AS BIGINT) AS stop_ct
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(stop_ct AS DOUBLE) / n_tokens AS stop_ratio,
       |  CASE WHEN CAST(stop_ct AS DOUBLE) / n_tokens >= 0.04 THEN 'en' ELSE 'unknown' END AS lang_pred
       |FROM t ORDER BY doc_id""".stripMargin

  /** Profile length for the #192 Cavnar–Trenkle langid: the top-N
    * ranked character 3-grams kept per language and per document. CT's
    * paper uses 300 over 1-5-grams on kilobyte documents; 40 3-grams
    * fits the short-document test corpus while keeping the
    * out-of-place penalty (= N, the paper's "maximum distance")
    * meaningful. At scale this dial RISES with document length — the
    * profiles stay langs×N rows (broadcast) regardless.
    */
  private[graft] val LangProfileN = 40

  /** #192 — `q_text_langid_ngram`: Cavnar–Trenkle n-gram-profile
    * language ID (Cavnar & Trenkle 1994, "N-Gram-Based Text
    * Categorization" — the public algorithm behind textcat/langid
    * tools), replacing the #32 stopword-ratio heuristic's blind spots:
    * short docs with no stopwords, and non-Latin scripts the stopword
    * list cannot see at all. Per-language profiles are SELF-TRAINED
    * from the corpus's own `lang`-labeled slice (the #126 frozen-model
    * discipline): rank each language's character 3-grams by frequency,
    * keep the top [[LangProfileN]]; a document is scored against every
    * language by the paper's OUT-OF-PLACE distance — for each 3-gram
    * of the doc's own top-N profile, |doc rank − language rank|, with
    * the maximum penalty N when the language profile lacks the gram —
    * and classified as the argmin (ties → lexicographically first
    * language; gram-less docs → 'unknown', the dirty rule). 3-grams
    * are code-point poly hashes ([[graft.functions.CharNgramHashes]],
    * the #176 cross-engine family), so CJK text profiles exactly like
    * Latin text and both engines agree to the bit. All-integer output
    * → full hash gate.
    *
    * Scale (reworked r17, VERDICT r16 item 2): a document arrives as
    * ONE row, so its whole profile — gram counts AND ranks — is per-row
    * state; the codegen'd [[graft.functions.CharNgramProfile]] computes
    * it map-side, where the old formulation exploded a (doc, gram)
    * frame only to shuffle it back together by doc (two corpus-sized
    * exchanges). The classify side now never shuffles anything
    * corpus-sized: profiles broadcast as langs × 1 map rows, the
    * out-of-place distance is a 40-element fold per (doc, cand) row,
    * and the ONLY doc-grain exchange is the final argmin contraction —
    * one row per document, partial-aggregated map-side (PlanSpec-
    * pinned). The fit side keeps its two vocabulary-grain contractions
    * ((lang, gram) count + per-lang rank), both tiny.
    */
  def qTextLangidNgram(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the FIT (labeled gram frequencies) and the CLASSIFY
    // (per-row profiles) each consume the normalized text — uncached
    // the corpus would be scanned and normalized twice (the #47
    // staged-frame lifecycle; not unpersisted — the query executes
    // after this method returns, and the oracle MATERIALIZEs the same
    // normalization CTE). The cache holds doc-id + normalized text
    // only, NOT the exploded gram stream the pre-r17 formulation
    // cached — corpus-linear, not gram-linear
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        Dedup.contentNormOf(col("text")).as("norm"))
      .persist()
    // language-profile FIT: (lang, gram) frequency over the labeled
    // slice, per-lang top-N rank, then one g→rank map per language
    // (≤ N entries each) — the broadcast model
    val langCnt = docs.where(col("lang").isNotNull)
      .select(col("lang"), explode(call("char_ngram_hashes", col("norm"), lit(3))).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
    val wLang = Window.partitionBy("lang").orderBy(col("c").desc, col("g"))
    val profMaps = langCnt
      .withColumn("r_lang", row_number().over(wLang))
      .where(col("r_lang") <= LangProfileN)
      .groupBy(col("lang").as("cand"))
      .agg(map_from_entries(
        collect_list(struct(col("g"), col("r_lang")))).as("pm"))
    // CLASSIFY: per-row doc profile, broadcast-fan to every candidate,
    // 40-element out-of-place fold, one argmin contraction. The join
    // condition is literal true (a broadcast nest-loop fan-out) but
    // LEFT, so docs survive even a fit with zero labeled documents.
    val scored = docs
      .select(col("doc_id"), col("lang"),
        call("char_ngram_profile", col("norm"), lit(3), lit(LangProfileN)).as("prof"))
      .join(broadcast(profMaps), lit(true), "left")
      .select(col("doc_id"), col("lang"), col("cand"),
        when(col("cand").isNull || col("prof").isNull ||
          size(col("prof")) === 0, lit(null).cast("long"))
          .otherwise(call("oop_distance", col("prof"), col("pm"), lit(LangProfileN)))
          .as("oop"))
    // oop is null exactly when the doc has no profile or no language
    // was fit — per doc all-or-none, so the null argmin IS the
    // 'unknown' verdict (the relational form's anti-join absence)
    scored
      .groupBy("doc_id")
      .agg(first(col("lang")).as("lang"),
        min_by(struct(col("cand"), col("oop")),
          struct(col("oop"), col("cand"))).as("b"))
      .select(col("doc_id"), col("lang"),
        when(col("b.oop").isNull, lit("unknown"))
          .otherwise(col("b.cand")).as("lang_pred"),
        col("b.oop").as("oop_dist"))
      .orderBy("doc_id")
  }

  /** #192's oracle: the #176 code-point Horner fold re-derives the
    * gram hashes, then the fit, the doc profiles, the out-of-place
    * distances, and the argmin — every stage integer.
    */
  val qTextLangidNgramSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
       |  FROM documents),
       |cstream AS (
       |  SELECT doc_id, lang,
       |    list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT)) AS cs
       |  FROM t),
       |gh AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(cs) >= 3 THEN
       |      list_transform(range(1, len(cs) - 1),
       |        i -> list_reduce(
       |          list_prepend(CAST(0 AS BIGINT), cs[i:i+2]),
       |          (acc, x) -> (acc * 31 + x) % 1000000007))
       |    ELSE CAST([] AS BIGINT[]) END AS gh
       |  FROM cstream),
       |ex AS (SELECT doc_id, lang, unnest(gh) AS g FROM gh),
       |lc AS (
       |  SELECT lang, g, CAST(count(*) AS BIGINT) AS c
       |  FROM ex WHERE lang IS NOT NULL GROUP BY 1, 2),
       |prof AS MATERIALIZED (
       |  SELECT lang AS cand, g, r_lang FROM (
       |    SELECT lang, g,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS r_lang
       |    FROM lc) WHERE r_lang <= $LangProfileN),
       |langs AS (SELECT DISTINCT cand FROM prof),
       |dc AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
       |  FROM ex GROUP BY 1, 2),
       |dp AS MATERIALIZED (
       |  SELECT doc_id, g, r_doc FROM (
       |    SELECT doc_id, g,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS r_doc
       |    FROM dc) WHERE r_doc <= $LangProfileN),
       |dist AS (
       |  SELECT dp.doc_id, l.cand,
       |    CAST(sum(coalesce(abs(dp.r_doc - p.r_lang), $LangProfileN)) AS BIGINT) AS oop
       |  FROM dp CROSS JOIN langs l
       |  LEFT JOIN prof p ON p.cand = l.cand AND p.g = dp.g
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, cand AS lang_pred, oop AS oop_dist FROM (
       |    SELECT doc_id, cand, oop,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY oop, cand) AS br
       |    FROM dist) WHERE br = 1)
       |SELECT d.doc_id, d.lang,
       |  coalesce(b.lang_pred, 'unknown') AS lang_pred, b.oop_dist
       |FROM documents d LEFT JOIN best b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** #33 — quality score: token count, mean word length, punctuation
    * ratio, stopword ratio combined into a bounded [0,1] score.
    */
  /** The #33 quality columns on any frame with a `text` column — the
    * one definition of the score, shared by the gated query and the
    * curation funnel (#72) so the two cannot drift. Adds `n`,
    * `n_tokens`, `stop_ct`, `mean_word_len`, `punct_ratio`,
    * `stopword_ratio`, `quality_score`; pure map-side projection.
    */
  private[graft] def withQuality(df: DataFrame): DataFrame =
    df
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("n_tokens",
        size(filter(tokens, t => t =!= "")).cast("long"))
      .withColumn("stop_ct",
        size(filter(tokens, t => t.isin(Stopwords: _*))).cast("long"))
      .withColumn("mean_word_len",
        length(regexp_replace(col("text"), " ", "")).cast("double") / nz(col("n_tokens")))
      .withColumn("punct_ratio",
        (col("n") - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double") / nz(col("n")))
      .withColumn("stopword_ratio",
        col("stop_ct").cast("double") / nz(col("n_tokens")))
      .withColumn("quality_score",
        lit(0.3) * least(lit(1.0), col("n_tokens") / 200.0) +
          lit(0.4) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * least(lit(1.0), col("stopword_ratio") * 10.0))

  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(spark, dir))
      .select("doc_id", "n_tokens", "mean_word_len", "punct_ratio",
        "stopword_ratio", "quality_score")
      .orderBy("doc_id")

  /** The #33 quality pipeline as composable SQL CTEs (`tq`/`mq`/`q`)
    * over a documents-shaped relation (`rel` may carry a WHERE
    * clause) — the SQL twin of [[withQuality]], shared by the #33
    * oracle and the per-domain rollup oracle (#135) so the score
    * definition cannot drift. The final CTE `q` exposes doc_id,
    * source, text, n_tokens, the three ratios, and quality_score.
    */
  private[operators] def qualityCtesSql(rel: String): String =
    s"""tq AS (
       |  SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopSqlList))) AS BIGINT) AS stop_ct,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_clean
       |  FROM $rel),
       |mq AS (
       |  SELECT doc_id, source, text, n_tokens,
       |    CAST(n_nospace AS DOUBLE) / n_tokens AS mean_word_len,
       |    CAST(n - n_clean AS DOUBLE) / n AS punct_ratio,
       |    CAST(stop_ct AS DOUBLE) / n_tokens AS stopword_ratio
       |  FROM tq),
       |q AS (
       |  SELECT doc_id, source, text, n_tokens, mean_word_len, punct_ratio,
       |    stopword_ratio,
       |    0.3 * least(1.0, n_tokens / 200.0) + 0.4 * (1.0 - punct_ratio)
       |      + 0.3 * least(1.0, stopword_ratio * 10.0) AS quality_score
       |  FROM mq)""".stripMargin

  val qTextQualitySql: String =
    s"""WITH ${qualityCtesSql("documents")}
       |SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
       |  quality_score
       |FROM q ORDER BY doc_id""".stripMargin

  /** #34 — token counting: whitespace tokens, a BPE-ish regex token
    * count (letter runs / digit runs / single punctuation), and the
    * chars/4 approximation. These are the CHEAP estimators (map-only,
    * no fit); the real corpus-fitted subword count is #171
    * ([[Bpe.qBpeTokenize]]).
    */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", wsTokenCount)
      .withColumn("bpe_tokens",
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast("long"))
      .withColumn("approx_tokens",
        ceil(length(col("text")) / 4.0).cast("long"))
      .select("doc_id", "ws_tokens", "bpe_tokens", "approx_tokens")
      .orderBy("doc_id")

  /** #148 — `q_token_fertility`: per-(lang, source) tokenizer
    * fertility dashboard — the readout a tokenizer choice is made
    * from (multilingual tokenizer reports measure exactly this:
    * how many subword tokens a language needs per word, and how many
    * bytes each token carries; a high-fertility language trains and
    * serves more expensively at the same text volume). Composes #34's
    * THREE token definitions (whitespace words, the BPE-ish regex,
    * chars/4) at the stratum grain: doc count, byte/char/token
    * totals, then `fertility` = regex tokens per whitespace word,
    * `bytes_per_token` and `chars_per_word`.
    *
    * Scale: map-side counters fused into the scan, ONE contracted
    * (lang, source) aggregate (≤ |langs|·|sources| rows — tiny at any
    * corpus size). All sums are integers; the three ratios are single
    * integer/integer divisions cast once to double — bit-identical in
    * both engines, partition-order-free. Strata whose documents carry
    * no whitespace words keep the dirty-record rule: visible, NULL
    * ratios.
    */
  /** The #148 per-batch contraction: one (lang, source) integer
    * partial — ADDITIVE under any corpus split (the #128 histogram
    * rule), which is what [[graft.streaming.Streams.tokenFertilitySink]]
    * folds.
    */
  private[graft] def tokenFertilityTotals(df: DataFrame): DataFrame =
    df.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("docs"),
        coalesce(sum(length(col("text"))).cast("long"), lit(0L)).as("chars"),
        coalesce(sum(octet_length(col("text"))).cast("long"), lit(0L)).as("bytes"),
        coalesce(sum(wsTokenCount), lit(0L)).as("ws_tokens"),
        coalesce(sum(regexp_count(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast("long")), lit(0L))
          .as("bpe_tokens"))

  /** The #148 ratio tail over a totals frame — shared by the gated
    * query and the streaming fold, so the two cannot drift.
    */
  private[graft] def tokenFertilityFromTotals(totals: DataFrame): DataFrame =
    totals.select(col("lang"), col("source"), col("docs"), col("chars"),
      col("bytes"), col("ws_tokens"), col("bpe_tokens"),
      (col("bpe_tokens").cast("double") / nz(col("ws_tokens")))
        .as("fertility"),
      (col("bytes").cast("double") / nz(col("bpe_tokens")))
        .as("bytes_per_token"),
      (col("chars").cast("double") / nz(col("ws_tokens")))
        .as("chars_per_word"))

  def qTokenFertility(spark: SparkSession, dir: String): DataFrame =
    tokenFertilityFromTotals(
      tokenFertilityTotals(Tables.documents(spark, dir)))
      .orderBy("lang", "source")

  val qTokenFertilitySql: String =
    """WITH t AS (
      |  SELECT lang, source,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    CAST(strlen(text) AS BIGINT) AS bytes,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
      |      AS wst,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
      |      AS bpet
      |  FROM documents),
      |g AS (
      |  -- coalesce(sum, 0): the Spark side's totals are streaming-
      |  -- additive partials (0 for an all-null-text group, never
      |  -- NULL); SQL's sum over all-NULL is NULL (r19 nasty corpus)
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(coalesce(sum(chars), 0) AS BIGINT) AS chars,
      |    CAST(coalesce(sum(bytes), 0) AS BIGINT) AS bytes,
      |    CAST(coalesce(sum(wst), 0) AS BIGINT) AS ws_tokens,
      |    CAST(coalesce(sum(bpet), 0) AS BIGINT) AS bpe_tokens
      |  FROM t GROUP BY 1, 2)
      |SELECT lang, source, docs, chars, bytes, ws_tokens, bpe_tokens,
      |  CAST(bpe_tokens AS DOUBLE) / nullif(ws_tokens, 0) AS fertility,
      |  CAST(bytes AS DOUBLE) / nullif(bpe_tokens, 0) AS bytes_per_token,
      |  CAST(chars AS DOUBLE) / nullif(ws_tokens, 0) AS chars_per_word
      |FROM g ORDER BY lang, source""".stripMargin

  val qTokenCountSql: String =
    s"""SELECT doc_id,
      |  $wsTokenCountSql AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** #35 — document fingerprinting: md5 of the normalized text plus a
    * 31-polynomial rolling hash mod 1e9+7 over the character stream
    * (a left fold, same order both engines). The fold is the
    * codegen'd [[graft.functions.PolyHashStr]] scalar (r21 — the same
    * `(acc·31 + cp) % 1e9+7` recurrence the #195 family already
    * hash-gates against the identical DuckDB lambda): the previous
    * `aggregate(transform(split(norm, "")))` HOF chain allocated one
    * single-char String + one boxed Long PER CHARACTER, interpreted —
    * exactly the allocation profile this VM's memory-oversubscribed
    * host amplifies 10-100× (the VERDICT r20 "q_doc_fingerprint quiet
    * drift" finding; the codegen'd loop walks the UTF8String's code
    * points with zero per-char allocation).
    */
  def qDocFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("norm",
        trim(regexp_replace(lower(col("text")), " +", " ")))
      .withColumn("fp_md5", md5(col("norm")))
      .withColumn("rolling_hash", call("poly_hash", col("norm")))
      .select("doc_id", "fp_md5", "rolling_hash")
      .orderBy("doc_id")
  }

  val qDocFingerprintSql: String =
    // null text → NULL fingerprint on BOTH engines (like md5): Spark's
    // aggregate() propagates the null, but DuckDB's list_prepend(0,
    // NULL) yields [0] and would fold to 0 — made explicit here (r19
    // null-source nasty corpus)
    """WITH t AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm FROM documents)
      |SELECT doc_id, md5(norm) AS fp_md5,
      |  CASE WHEN norm IS NULL THEN NULL ELSE list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) END AS rolling_hash
      |FROM t ORDER BY doc_id""".stripMargin

  /** Repetition flag threshold (#71): duplicate-3-gram fraction above
    * which a document is marked repetitive. 0.02 separates the test
    * corpus cleanly (27/500 docs have ANY internal repeat, 4 exceed
    * this); production corpora tune it per the published repetition-
    * filter recipes (duplicate n-gram fractions are one of the
    * standard web-scale quality rules).
    */
  private val RepetitionTau = 0.02

  /** #71 — `q_intradoc_repetition`: WITHIN-document repetition — the
    * quality rule that catches boilerplate-padded and loop-generated
    * pages cross-doc dedup (#25-28) cannot see. Per doc: total word
    * 3-grams (tokens − 2), DISTINCT 3-grams (the `word_shingles`
    * vocabulary, one definition shared with the whole dedup family),
    * and the duplicate fraction 1 − distinct/total, flagged at
    * [[RepetitionTau]]. Pure map-side projection — the shingle set
    * never explodes and nothing shuffles; at 100 TB this runs at
    * parquet-scan speed like the rest of this file.
    */
  /** The #71 repetition columns on any frame with a `text` column —
    * shared by the gated query and the curation funnel (#72). Adds
    * `n_grams`, `n_distinct`, `dup_fraction`, `is_repetitive`.
    */
  private[graft] def withRepetition(df: DataFrame): DataFrame = {
    df
      .withColumn("n_grams", greatest(wsTokenCount - 2, lit(0L)))
      // null text has 0 distinct 3-grams, consistent with its n_grams
      // = 0 (greatest already absorbs the null there); without the
      // coalesce the column is NULL while the oracle's CASE emits 0
      // (r19 null-source nasty corpus)
      .withColumn("n_distinct",
        coalesce(size(call("word_shingles", col("text"), lit(3))).cast("long"), lit(0L)))
      .withColumn("dup_fraction",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(lit(1.0) -
            col("n_distinct").cast("double") / col("n_grams")))
      .withColumn("is_repetitive", col("dup_fraction") > RepetitionTau)
  }

  def qIntradocRepetition(spark: SparkSession, dir: String): DataFrame =
    withRepetition(Tables.documents(spark, dir))
      .select("doc_id", "n_grams", "n_distinct", "dup_fraction",
        "is_repetitive")
      .orderBy("doc_id")

  val qIntradocRepetitionSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS BIGINT) AS n_grams,
       |    CAST(CASE WHEN len(t) >= 3
       |      THEN len(list_distinct(list_transform(range(1, len(t) - 1),
       |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
       |      ELSE 0 END AS BIGINT) AS n_distinct
       |  FROM toks),
       |f AS (
       |  SELECT doc_id, n_grams, n_distinct,
       |    CASE WHEN n_grams = 0 THEN 0.0
       |      ELSE 1.0 - CAST(n_distinct AS DOUBLE) / n_grams END AS dup_fraction
       |  FROM g)
       |SELECT doc_id, n_grams, n_distinct, dup_fraction,
       |  dup_fraction > $RepetitionTau AS is_repetitive
       |FROM f ORDER BY doc_id""".stripMargin

  /** PII patterns shared by #59 and its spec. Written in the common
    * subset of Java regex (Spark) and RE2 (DuckDB): explicit [0-9]
    * classes, no lookaround, no backreferences — both engines match
    * identical spans.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+?[0-9][0-9-]{7,}[0-9]"

  /** The #59 transform on any frame with an id + text column: counts
    * and the redacted text (email pass first, then phone on the
    * already-redacted string — the order is part of the contract and
    * mirrored in the oracle).
    */
  private[graft] def piiScrubbed(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val emailRedacted = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(emailRedacted, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(emailRedacted, PhoneRe, "<PHONE>").as("redacted"))
  }

  /** #59 — `q_pii_scrub`: PII redaction, the curation pass a
    * training-data pipeline runs before anything ships — emails and
    * phone-number-like digit runs replaced by typed tokens, with
    * per-document counts (the scrub-rate health metric). Pure map-side
    * projection: zero shuffles beyond the presentation sort, codegen'd
    * regexp machinery, same scale shape as the other text ops. The
    * gate hashes md5(redacted) rather than the full text (compact
    * output; any divergence in match spans changes the hash). On the
    * clean test corpus every count is 0 and redacted == text — the
    * planted-corpus parity check and the golden spec pin the firing
    * path (same discipline as #54's CJK rule).
    */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubbed(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("redacted_fp"))
      .orderBy("doc_id")

  val qPiiScrubSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, text,
      |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS email_red
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(email_red, '$PhoneRe')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(email_red, '$PhoneRe', '<PHONE>', 'g')) AS redacted_fp
      |FROM t ORDER BY doc_id""".stripMargin

  /** #126 — unigram-LM quality score: each document's mean token
    * log-probability under the corpus's OWN unigram distribution —
    * the public proxy for the perplexity filter every published
    * curation pipeline runs (CCNet and its descendants score docs
    * with a small LM and cut the tail; with no external model
    * shippable, the corpus-self-trained unigram model is the
    * deterministic, oracle-checkable stand-in). Rare-token-heavy docs
    * (gibberish, encoding damage, boilerplate code) score far more
    * negative than running prose; the cut is a percentile downstream.
    *
    * Determinism is the design constraint: a double `sum` over ln
    * values would be partition-order-dependent (float addition is not
    * associative — the §6a rule). So each DISTINCT word's log-prob is
    * rounded ONCE to 6 dp and fixed as DECIMAL(18,6); per-doc mass is
    * `tf · lp` summed in exact decimal (associative, any
    * partitioning), and only the final per-doc mean becomes a double.
    * Engines agree because both round the same IEEE `ln` input at a
    * vocabulary-sized number of points (a last-ulp flip would need to
    * straddle a 5e-7 boundary — ~2e-9 per word).
    *
    * Scale: the word scan is map-side; the (doc, word) tf aggregate
    * and the vocabulary-sized cnt aggregate are the only corpus-scale
    * exchanges; the corpus total rides as a 1-row broadcast and the
    * tf⋈lp join keys on the word. Token-less docs surface with
    * n_tokens = 0 and NULL score (the dirty-record rule — they are
    * the quality filter's first victims and must stay visible).
    */
  def qQualityLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    scoreQualityLm(docs, unigramModel(docs, "text"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** The corpus-self-trained unigram model behind #126/#130: per
    * word, its 6-dp-fixed DECIMAL(18,6) log-probability (the one
    * rounding point — see [[qQualityLm]]'s determinism note).
    * Vocabulary-sized; persist or snapshot it to score later ingest
    * against a FROZEN model (the #130 deployment).
    */
  private[graft] def unigramModel(df: DataFrame, textCol: String): DataFrame = {
    val words = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    // ONE corpus pass: the vocabulary-sized counts materialize once and
    // both consumers (total ≡ Σcnt and the lp projection) read the
    // result. Measured equal to the two-pass form at sf0.1 (isolated
    // probes within noise either way — unlike probe 16's corpus-sized
    // contraction, a vocab-sized frame costs nothing to materialize),
    // so the fewer-scans shape wins on structure. localCheckpoint — not
    // persist(): a long-lived session re-fitting the model on a cadence
    // (the #130 frozen-model deployment) would accumulate one cache
    // entry per refit for the life of the driver, since each refit is a
    // new plan the old entry can never serve. Checkpoint blocks are
    // reclaimed by the ContextCleaner once the returned frame is
    // unreachable — the incrementalPairsStored discipline (review r11).
    val cnt = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    cnt.crossJoin(broadcast(cnt.agg(sum("cnt").as("total"))))
      .select(col("word"),
        round(log(col("cnt").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
  }

  /** Scores any frame against a [[unigramModel]] — the shared core of
    * #126 (model == corpus) and #130 (frozen model, streamed docs):
    * per doc, token count and mean log-prob in exact decimal
    * summation. Stateless per document — a doc's score depends only
    * on its own text and the model — which is what makes the
    * streaming twin batch-boundary-proof. Out-of-vocabulary words
    * (absent from the model) are DROPPED from both the mass and the
    * token count, stated identically in both flavors; token-less docs
    * surface with n_tokens = 0 and NULL score.
    */
  private[graft] def scoreQualityLm(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val words = df
      .select(col(idCol).as("_qid"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val tf = words.groupBy("_qid", "word").agg(count(lit(1)).as("tf"))
    val perDoc = tf.join(model, "word")
      .groupBy("_qid").agg(
        sum(col("tf")).as("n_toks"),
        sum(col("lp") * col("tf")).as("lp_sum"))
    df.select(col(idCol).as("_qid")).join(perDoc, Seq("_qid"), "left")
      .select(col("_qid").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_tokens"),
        round(col("lp_sum").cast("double") / col("n_toks"), 6)
          .as("avg_logprob"))
  }

  /** The #126 pipeline as shared SQL CTEs (`w2`/`tf`/`cnt`/`lp`/`per`)
    * — one definition of the unigram-LM score, consumed by the #126
    * oracle and the #139 bucketing oracle so the score cannot drift.
    */
  private val lmCtesSql: String =
    """w2 AS (
      |  SELECT doc_id, w AS word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0),
      |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |       FROM w2 GROUP BY 1, 2),
      |cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w2 GROUP BY 1),
      |lp AS (
      |  SELECT word,
      |    CAST(round(ln(cnt * 1.0 / (SELECT count(*) FROM w2)), 6)
      |      AS DECIMAL(18,6)) AS lp
      |  FROM cnt),
      |per AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
      |    sum(lp * tf) AS lp_sum
      |  FROM tf JOIN lp USING (word) GROUP BY 1)""".stripMargin

  val qQualityLmSql: String =
    s"""WITH $lmCtesSql
      |SELECT d.doc_id,
      |  COALESCE(per.n_toks, 0) AS n_tokens,
      |  round(CAST(lp_sum AS DOUBLE) / per.n_toks, 6) AS avg_logprob
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Minimum retained lines for the #137 page verdict (C4 keeps pages
    * with at least 3 retained sentences/lines) and minimum words per
    * retained line (C4's 5-word line rule).
    */
  private val C4MinKeptLines = 3L
  private val C4MinLineWords = 5L

  /** #137 — `q_c4_rules`: the C4 cleaning heuristics (Raffel et al.
    * 2020, §2.2 — the public rule set behind the C4 corpus), applied
    * WITHIN each document: a line (trimmed `\n`-segment) is RETAINED
    * iff it ends in terminal punctuation (`.` `!` `?` `"`), carries at
    * least [[C4MinLineWords]] whitespace words, and does not mention
    * "javascript" (case-insensitive); the PAGE is kept iff at least
    * [[C4MinKeptLines]] lines survive and the raw text contains
    * neither a curly brace (code markup) nor "lorem ipsum" (template
    * filler). The per-doc readout — line counts, retained-character
    * fraction, the three page flags, and the verdict — is what the
    * strip/drop decision consumes; #134 covers the CROSS-document
    * line rule, this is its within-doc sibling. Reference analogue:
    * none (the LLM-curation extension the brief asks for).
    *
    * Scale: pure per-row projection over higher-order functions on
    * the split array — zero shuffles, fully codegen, parquet-scan
    * speed at 100 TB. Docs with no non-blank lines keep the
    * dirty-record rule: visible, zero counts, NULL `kept_char_frac`,
    * `keep` = false.
    */
  /** The #137 readout on any frame with an id + text column — shared
    * by the gated query and the [[graft.api.Graft.c4Rules]] facade.
    */
  /** Column-PRESERVING form of the #137 battery (internal names
    * `_c4_*`, verdict `c4_keep`) — what lets #151 fuse all three
    * map-side batteries into ONE text scan. [[c4Rules]] is its
    * public-name projection; the two cannot drift.
    */
  private[graft] def withC4(df: DataFrame, textCol: String): DataFrame = {
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, " "), w => w =!= "")) >= C4MinLineWords.toInt &&
        !lower(l).contains("javascript"))
    def chars(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, l) => acc + length(l).cast("long"))
    df
      .withColumn("_c4_n_lines", size(lines).cast("long"))
      .withColumn("_c4_n_kept_lines", size(kept).cast("long"))
      .withColumn("_c4_line_chars", chars(lines))
      .withColumn("_c4_kept_chars", chars(kept))
      .withColumn("_c4_has_brace", col(textCol).contains("{"))
      .withColumn("_c4_has_lorem", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("c4_keep",
        col("_c4_n_kept_lines") >= C4MinKeptLines &&
          !col("_c4_has_brace") && !col("_c4_has_lorem"))
  }

  private[graft] def c4Rules(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    withC4(df, textCol)
      .select(col(idCol), col("_c4_n_lines").as("n_lines"),
        col("_c4_n_kept_lines").as("n_kept_lines"),
        when(col("_c4_line_chars") === 0, lit(null).cast("double"))
          .otherwise(round(col("_c4_kept_chars").cast("double") /
            col("_c4_line_chars"), 6))
          .as("kept_char_frac"),
        col("_c4_has_brace").as("has_brace"),
        col("_c4_has_lorem").as("has_lorem"),
        col("c4_keep").as("keep"))

  def qC4Rules(spark: SparkSession, dir: String): DataFrame =
    c4Rules(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val qC4RulesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS lines
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, text, lines,
       |    list_filter(lines, l ->
       |      right(l, 1) IN ('.', '!', '?', '"')
       |      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= $C4MinLineWords
       |      AND NOT contains(lower(l), 'javascript')) AS kept
       |  FROM t),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
       |    COALESCE(list_sum(list_transform(lines, l -> CAST(length(l) AS BIGINT))), 0) AS line_chars,
       |    COALESCE(list_sum(list_transform(kept, l -> CAST(length(l) AS BIGINT))), 0) AS kept_chars,
       |    contains(text, '{') AS has_brace,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem
       |  FROM k)
       |SELECT doc_id, n_lines, n_kept_lines,
       |  CASE WHEN line_chars = 0 THEN NULL
       |    ELSE round(CAST(kept_chars AS DOUBLE) / line_chars, 6) END AS kept_char_frac,
       |  has_brace, has_lorem,
       |  (n_kept_lines >= $C4MinKeptLines AND NOT has_brace AND NOT has_lorem) AS keep
       |FROM c ORDER BY doc_id""".stripMargin

  /** #193 — the word blocklist (C4's cleaning step: Raffel et al.
    * 2020 §2.2 drop any page containing a word from the public "List
    * of Dirty, Naughty, Obscene or Otherwise Bad Words"). The list is
    * DEPLOYMENT POLICY — the real LDNOOBW list is swapped in per
    * corpus via [[blocklistRules]]' parameter; the gate default is a
    * tiny spam-register stand-in (the category's classic spam-filter
    * tokens) so the repo carries the mechanism, not the vocabulary.
    * Matching is the paper's word grain: lowercased alphanumeric
    * tokens (split on `[^a-z0-9]+` — punctuation-robust, identical in
    * both engines' ASCII regex), term ∈ list, multiplicity counted.
    */
  private[graft] val BlockWords = Seq("casino", "jackpot", "viagra", "xxx")
  private val blockSqlList = BlockWords.map(w => s"'$w'").mkString(", ")

  /** The #193 blocked-word count over a text expression — the SQL twin
    * of [[withBlocklist]]'s `_bl_n_blocked`, shared by the #193 oracles
    * and the #72/#169 funnel oracles so the stage cannot drift. */
  private[operators] def blocklistNSqlOf(t: String): String =
    s"len(list_filter(regexp_split_to_array(lower($t), '[^a-z0-9]+'), t -> t IN ($blockSqlList)))"

  /** Column-preserving #193 core (internal `_bl_n_blocked`, verdict
    * `bl_pass`) — shared by the gated queries, the #72/#169 funnel
    * stage, and the streaming funnel fold, so the stage definition
    * cannot drift. NULL text → NULL count → NULL pass (the
    * NULL-fails-its-gate convention downstream coalesces).
    */
  private[graft] def withBlocklist(df: DataFrame, textCol: String,
      words: Seq[String] = BlockWords): DataFrame =
    df.withColumn("_bl_n_blocked",
        size(filter(split(lower(col(textCol)), "[^a-z0-9]+"),
          t => t.isin(words: _*))).cast("long"))
      .withColumn("bl_pass", col("_bl_n_blocked") === 0L)

  /** The #193 battery on any id + text frame — the
    * [[graft.api.Graft]] facade form: `(id, n_blocked, blocked)`,
    * with the word list a parameter (production swaps in LDNOOBW).
    */
  private[graft] def blocklistRules(df: DataFrame, idCol: String,
      textCol: String, words: Seq[String] = BlockWords): DataFrame =
    withBlocklist(df, textCol, words)
      .select(col(idCol), col("_bl_n_blocked").as("n_blocked"),
        when(col("_bl_n_blocked").isNull, lit(null).cast("boolean"))
          .otherwise(col("_bl_n_blocked") > 0L).as("blocked"))

  /** #193 — `q_blocklist_rules`: the per-doc blocklist verdict table
    * (`doc_id, source, n_blocked, blocked`) — the audit grain next to
    * #137/#138's batteries. Pure map-side projection (broadcast-free:
    * the list is a literal in the codegen'd filter), zero shuffles
    * beyond the presentation sort; at 100 TB this runs at scan speed,
    * which is why C4 can afford it on every page.
    */
  def qBlocklistRules(spark: SparkSession, dir: String): DataFrame =
    withBlocklist(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("source"),
        col("_bl_n_blocked").as("n_blocked"),
        when(col("_bl_n_blocked").isNull, lit(null).cast("boolean"))
          .otherwise(col("_bl_n_blocked") > 0L).as("blocked"))
      .orderBy("doc_id")

  val qBlocklistRulesSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, ${blocklistNSqlOf("text")} AS nb
       |  FROM documents)
       |SELECT doc_id, source, CAST(nb AS BIGINT) AS n_blocked,
       |  nb > 0 AS blocked
       |FROM b ORDER BY doc_id""".stripMargin

  /** #193's per-source rate readout — `(source, n_docs, n_blocked_docs,
    * block_rate)`, the dashboard a curation run reads before deciding
    * whether a source's block rate is noise or a reason to drop the
    * source entirely (the C4 paper reports exactly this kind of
    * removal accounting). One source-grain contraction; the rate is a
    * single integer division (bit-identical across engines). NULL-text
    * docs count as blocked=false here (they cannot match a word) but
    * are visible in `n_docs` — the per-doc gate keeps their NULL.
    */
  def qBlocklistRate(spark: SparkSession, dir: String): DataFrame =
    withBlocklist(Tables.documents(spark, dir), "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_bl_n_blocked") > 0L, 1L).otherwise(0L))
          .as("n_blocked_docs"))
      .withColumn("block_rate",
        col("n_blocked_docs").cast("double") / col("n_docs"))
      .orderBy("source")

  val qBlocklistRateSql: String =
    s"""WITH b AS (
       |  SELECT source, ${blocklistNSqlOf("text")} AS nb
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_blocked_docs,
       |  CAST(coalesce(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END), 0) AS DOUBLE)
       |    / count(*) AS block_rate
       |FROM b GROUP BY source ORDER BY source NULLS FIRST""".stripMargin

  // --------------------------------------------------------------------
  // #195: discriminative QUALITY CLASSIFIER (the GPT-3 §2.1 / LLaMA
  // recipe: train a linear classifier to distinguish a curated
  // reference slice from the crawl, keep crawl pages the classifier
  // scores reference-like). The model is a least-squares linear probe
  // over hashed-unigram frequencies fit by full-batch gradient
  // descent — deliberately NOT logistic: every operation is +,×,÷ on
  // values both engines compute bit-identically (no exp/σ, whose last
  // ulp differs across libms), and every cross-row sum goes through
  // the k-means fixed-point discipline (floor-quantize summands to
  // micro⁶ integers, exact order-free addition, leave fixed point by
  // ONE IEEE division of exactly-representable integers) — so the
  // ENTIRE fit, like #75/#171, is re-derivable in DuckDB and
  // hash-gated, not just spec-pinned.
  // --------------------------------------------------------------------

  /** Hashed-unigram feature buckets (index [[ClsDims]] is the bias).
    * 256 keeps the oracle's unrolled GD affordable at gate SF;
    * production fits raise it (the fit cost is iters × (one join +
    * two aggregates) over the SAMPLE it fits on — the published
    * recipe fits on ~100 k docs, never the corpus).
    */
  private[graft] val ClsDims = 256
  private[graft] val ClsIters = 4
  /** 0.5 — exactly representable, so the driver-side (and oracle-side)
    * `w − lr·g` update is the identical IEEE op in both engines. */
  private[graft] val ClsLr = 0.5

  /** The shared feature frame `(doc_id, i, x)`: x = token count /
    * doc token count for bucket i = poly_hash(token) mod [[ClsDims]]
    * (lowercased whitespace tokens — the quality-battery grain), plus
    * one bias row (i = [[ClsDims]], x = 1) per document — so every
    * document scores (an empty/NULL-text doc scores the fitted
    * prior). One map-side hash pass (codegen'd [[graft.functions
    * .PolyHashStr]]) and one (doc, bucket) contraction.
    */
  private[graft] def classifierFeatures(df: DataFrame, idCol: String,
      textCol: String, dims: Int = ClsDims): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(filter(split(lower(col(textCol)), " "), t => t =!= "")).as("t"))
    val nt = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    toks
      .select(col("doc_id"),
        pmod(call("poly_hash", col("t")), lit(dims.toLong))
          .cast("int").as("i"))
      .groupBy("doc_id", "i").agg(count(lit(1)).as("c"))
      .join(nt, "doc_id")
      .select(col("doc_id"), col("i"),
        (col("c").cast("double") / col("n").cast("double")).as("x"))
      .unionByName(df.select(col(idCol).as("doc_id"),
        lit(dims).as("i"), lit(1.0).as("x")))
  }

  /** One fixed-point score/gradient contraction: Σ floor(a·b × 10⁶)
    * exactly, then ONE double division of two exactly-representable
    * integers (micro⁶ numerator, scaled denominator) — correctly
    * rounded by IEEE, so ANY engine reproduces the same bits. floor
    * (not a decimal cast) because the product and the ×10⁶ scale are
    * the same two IEEE ops in every engine, so floor agrees BIT-FOR-
    * BIT with no half-boundary class — a double→decimal cast rounds
    * the exact expansion in Spark but a scaled double in DuckDB,
    * which at 9 dp disagreed ~1e-7/summand (54 hits at sf0.1's token
    * mass). 10⁶ also keeps every numerator ≤2⁵³ at a 10⁵-doc fit
    * sample, so the long→double cast stays exact.
    */
  private def fxSum(prod: Column, denom: Column): Column =
    sum(floor(prod * lit(1000000.0)).cast("long")).cast("double") / denom

  /** [[classifierFeatures]]' rows collected to ONE array per score
    * grain: `(doc_id, fv: array<struct<i,x>>)` — element-for-element
    * the flat frame's rows under `groupBy(doc_id)` (the grouping every
    * fxSum contraction keyed on), including the corner semantics: a
    * null-id group keeps one collected row (the flat frame's null
    * score group), token rows of a null-id doc are dropped (the flat
    * build's inner `nt` join), and a duplicated id contributes one
    * merged count set plus one bias entry PER input row (the flat
    * build's per-row bias union). CurationSpec pins this equality on
    * a planted null/dup/empty corpus.
    *
    * This is the r21 fit/score shape: with the per-doc grain
    * materialized ONCE, each GD round and the final scoring become
    * map-side array folds against driver-held weights instead of a
    * broadcast join + per-doc shuffle contraction per round (guide
    * §2.3/§2.4 — the contraction's exchange was paid 6× per fit).
    * Built directly (not via [[classifierFeatures]] + collect): the
    * flat build tokenizes the corpus TWICE (the `nt` totals branch
    * and the counts branch each re-run the explode); here one explode
    * feeds a (doc, bucket) count, the per-doc total folds from the
    * collected counts, and the bias entries append per input row —
    * and the doc-grain join of the two groupBys reuses the exchange
    * (both hash-partitioned on doc_id).
    */
  private[graft] def classifierFeatureVecs(df: DataFrame, idCol: String,
      textCol: String, dims: Int = ClsDims): DataFrame = {
    val emptyFv = array().cast("array<struct<i:int,x:double>>")
    val perDoc = df
      .select(col(idCol).as("doc_id"),
        explode(filter(split(lower(col(textCol)), " "), t => t =!= "")).as("t"))
      .select(col("doc_id"),
        pmod(call("poly_hash", col("t")), lit(dims.toLong))
          .cast("int").as("i"))
      .groupBy("doc_id", "i").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("i"), col("c"))).as("cs"),
        sum(col("c")).as("n"))
    df.select(col(idCol).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nb"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat(
          coalesce(transform(col("cs"), s =>
            struct(s.getField("i").as("i"),
              (s.getField("c").cast("double") / col("n").cast("double"))
                .as("x"))), emptyFv),
          transform(sequence(lit(1L), col("nb")), _ =>
            struct(lit(dims).as("i"), lit(1.0).as("x")))).as("fv"))
  }

  /** Map-side fixed-point score of a collected feature vector against
    * driver-held weights: Σ floor((x·wᵢ)·10⁶) as LONG over the array
    * (long addition is associative/commutative, so any fold order —
    * array, hash-aggregate, oracle CTE — produces the identical sum),
    * then the single [[fxSum]] division. Since r22 the fold is the
    * codegen'd [[graft.functions.SparseFxDot]] kernel instead of an
    * interpreted `aggregate` HOF (Catalyst does not codegen lambda
    * bodies — r21 verdict item 1); the weights still ride as a dims+1
    * array literal and the summands are the identical three IEEE ops,
    * spec-pinned bit-equal to the HOF formulation.
    */
  private def scoreVecExpr(fvCol: Column, w: Array[Double]): Column =
    call("fx_dot", fvCol, typedLit(w.toSeq))

  /** Full-batch GD fit of the linear probe over the COLLECTED feature
    * frame ([[classifierFeatureVecs]], caller-persisted): w₀ = 0; per
    * round ONE job — join the labels (the same inner `doc_id` join the
    * flat fit's residual step performed, so null-id/dup-id semantics
    * are unchanged), score each doc by the map-side array fold,
    * explode the per-bucket fixed-point gradient summands and contract
    * them map-side-combinably onto dims+1 keys, update w ← w − lr·g on
    * the DRIVER (dims+1 doubles — the [[graft.api.Graft
    * .kmeansCentroids]] convention: only the model ever reaches the
    * driver). Replaces the pre-r21 per-round shape (weights broadcast
    * join + per-doc shuffle contraction + resid join + per-bucket
    * shuffle contraction); every long summand is the identical
    * floor((·)·10⁶) the oracle CTEs compute, so the w trajectory is
    * bit-for-bit the flat fit's. Deterministic under any partitioning.
    */
  private[graft] def classifierFit(featV: DataFrame, lab: DataFrame,
      dims: Int, iters: Int, lr: Double): Array[Double] = {
    // labels serve the count and the round loop's join — persist both
    // the label frame and the PRE-JOINED (featV ⋈ lab) frame for the
    // loop's lifetime: the inner doc_id join is identical every round
    // (w only changes the projection), so paying it once instead of
    // per round removes a join + broadcast build + label re-scan from
    // each GD job (probe: ~0.44 s → ~0.31 s per round). Unpersisted
    // on exit — the fit's caches are loop-internal.
    val l = lab.persist()
    val fl = featV.join(l, Seq("doc_id")).persist()
    try {
      // n counts LABEL rows (null-id rows included — they carry no
      // gradient, the pre-joined frame drops them, but they are part
      // of the oracle's denominator), so it must come from l, not fl
      val n = l.count()
      require(n > 0, "classifier fit needs at least one labeled doc")
      var w = Array.fill(dims + 1)(0.0)
      for (_ <- 0 until iters) {
        // the round's whole gradient as ONE map-side-combinable
        // aggregate ([[graft.functions.FxGradAgg]]): score + residual
        // + indexed accumulation fused per row, partials merge as
        // long[dims+1] adds — replaces the interpreted
        // explode(transform(…)) + groupBy(i) pipeline, which allocated
        // one struct row per (doc, bucket) and hash-aggregated them
        // (r21 verdict item 1). Summands are the identical
        // floor((·)·10⁶) longs, so the trajectory is bit-preserved
        // (spec-pinned equal to the exploded formulation).
        val grads = fl
          .select(call("fx_grad", col("fv"), col("y"),
            typedLit(w.toSeq)).as("g"))
          .collect()(0).getSeq[Long](0)
        w = w.zipWithIndex.map { case (v, i) =>
          v - lr * (grads(i).toDouble / (n * 1000000L).toDouble) }
      }
      w
    } finally { fl.unpersist(); l.unpersist(); () }
  }

  /** The (doc, bucket) score contraction over an ALREADY-BUILT feature
    * frame — the shared tail of [[classifierScoreWith]] (streaming
    * frozen-model scoring, where the weights arrive as a frame).
    */
  private def scoreFeat(feat: DataFrame, weights: DataFrame): DataFrame =
    feat.join(broadcast(weights.select(col("i"), col("w"))), "i")
      .groupBy("doc_id")
      .agg(fxSum(col("x") * col("w"), lit(1000000.0)).as("score"))

  /** [[scoreFeat]]'s twin over the collected frame: one map-side
    * projection, no join, no contraction exchange — identical rows
    * (the groupBy(doc_id) grain was materialized at collect time).
    */
  private def scoreFeatVec(featV: DataFrame, w: Array[Double]): DataFrame = {
    featV.select(col("doc_id"), scoreVecExpr(col("fv"), w).as("score"))
  }

  /** Score any id+text frame against fitted weights `(i, w)` — the
    * FROZEN-MODEL form (#126/#146's discipline): pure map work plus
    * one (doc, bucket) contraction against a broadcast dims+1-row
    * model, so it runs at ingest inside any foreachBatch without
    * state machinery (the model IS the state, fit offline and
    * refreshed like the #130 LM store).
    */
  private[graft] def classifierScoreWith(df: DataFrame, idCol: String,
      textCol: String, weights: DataFrame, dims: Int = ClsDims): DataFrame =
    scoreFeat(classifierFeatures(df, idCol, textCol, dims), weights)

  /** The frozen half of the classifier as a frame: fit the probe on
    * `df` against caller-chosen reference labels (`isRef` — any
    * boolean Column over the frame, the [[graft.operators.Corpus
    * .dsirModel]] calling convention) and return the dims+1-row
    * `(i, w)` model. Persist it to score later ingest against a
    * FROZEN model; re-fit on a cadence.
    */
  private[graft] def classifierModel(df: DataFrame, idCol: String,
      textCol: String, isRef: Column, dims: Int = ClsDims,
      iters: Int = ClsIters, lr: Double = ClsLr): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lab = df.select(col(idCol).as("doc_id"),
      when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    val fv = classifierFeatureVecs(df, idCol, textCol, dims).persist()
    try {
      val w = classifierFit(fv, lab, dims, iters, lr)
      w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("i", "w")
    } finally { fv.unpersist(); () }
  }

  /** Fit + score + keep in one call (the [[graft.operators.Corpus
    * .dsirWeights]] shape): `(doc_id, score, keep)` with keep =
    * score ≥ `threshold`. `classifierQuality(df, …) ≡
    * classifierScoreWith(df, …, classifierModel(df, …))` — a row's
    * score depends only on its own text and the model, so the split
    * is micro-batch-safe.
    */
  private[graft] def classifierQuality(df: DataFrame, idCol: String,
      textCol: String, isRef: Column, threshold: Double = 0.5,
      dims: Int = ClsDims, iters: Int = ClsIters,
      lr: Double = ClsLr): DataFrame = {
    // ONE feature build serves the fit and the final scoring (the
    // qQualityClassifier gate lifecycle: persist the collected frame,
    // fit, return the lazy scored frame against the same cached frame
    // — the facade tokenizes and hashes the corpus exactly once)
    val featV = classifierFeatureVecs(df, idCol, textCol, dims).persist()
    val lab = df.select(col(idCol).as("doc_id"),
      when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    val w = classifierFit(featV, lab, dims, iters, lr)
    scoreFeatVec(featV, w)
      .select(col("doc_id"), col("score"),
        (col("score") >= threshold).as("keep"))
  }

  /** #195 — `q_quality_classifier`: the classifier fit + corpus
    * scoring as one gated query, self-trained (the #192/#126
    * discipline) on a deterministic REFERENCE rule: sources with
    * poly_hash(source) ≡ 0 (mod 4) play the curated slice (a quarter
    * of sources; production passes real labels through the facade).
    * Output per doc: `(doc_id, is_ref, score, keep)` with keep =
    * score ≥ 0.5 — the GPT-3 keep rule minus its Pareto jitter
    * (randomness has no cross-engine twin; the threshold is the
    * deterministic core). On the synthetic corpus the vocabularies
    * coincide, so the fit learns ≈the base rate (the gate pins the
    * MATH); the CurationSpec planted corpus proves real separation.
    *
    * Scale: the fit is iters × (broadcast-model join + two
    * contractions) over the labeled SAMPLE; scoring is one hash pass
    * + one (doc, bucket) contraction per corpus — the #139-class
    * map-heavy shape. Nothing model-sized ever shuffles; only the
    * dims+1 weights reach the driver.
    */
  def qQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call("poly_hash", col("source")), lit(4L)) === 0
    val lab = docs.select(col("doc_id"),
      when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    // one feature build serves the fit AND the final scoring — the
    // oracle MATERIALIZEs the same feat CTE for both (the #47 gate
    // lifecycle: persist, no unpersist on the lazy returned frame)
    val featV = classifierFeatureVecs(docs, "doc_id", "text").persist()
    val w = classifierFit(featV, lab, ClsDims, ClsIters, ClsLr)
    val scores = scoreFeatVec(featV, w)
    lab.select(col("doc_id"), (col("y") === 1.0).as("is_ref"))
      .join(scores, Seq("doc_id"))
      .select(col("doc_id"), col("is_ref"), col("score"),
        (col("score") >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** The shared oracle CTE chain for the #195 family — the whole fit
    * unrolled: features, labels, w₀ = 0, [[ClsIters]] GD rounds as
    * MATERIALIZED CTE stages (the #171/#187 discipline), final
    * per-doc scores in `sfin`. Every fixed-point contraction is the
    * same floor-to-micro⁶ / exact-sum / one-division sequence the
    * Spark side computes. Tails append further CTEs/SELECTs (#195
    * reads `sfin` per doc; #197 aggregates it per source).
    */
  /** The DuckDB Horner fold of [[graft.functions.PolyHashStr]] —
    * shared by the #195 family's CTEs and the holdout tail.
    */
  private def clsFoldSql(e: String): String = {
    val P = graft.functions.PolyHash.Mod1
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % $P)"
  }

  /** [[clsCoreCtes]] parameterized by the TRAINING slice: `labWhere`
    * (SQL `WHERE ...` or empty) restricts which documents carry labels
    * and count toward the gradient denominator — the GD rounds join
    * features against `lab`, so the filter restricts the whole fit
    * while `sfin` still scores every document (#198 reads the held-out
    * slice from it). The label CASE is null-source-safe: DuckDB's
    * Horner fold of NULL folds the empty list to 0 (list_prepend
    * un-NULLs it) where Spark's poly_hash is null — guarded with an
    * IS NOT NULL conjunct so both engines label a NULL source 0.0.
    */
  private def clsCtes(labWhere: String = ""): String = {
    val D = ClsDims
    def sumdec(prod: String) =
      s"CAST(sum(CAST(floor(($prod) * 1000000) AS BIGINT)) AS DOUBLE)"
    val iterCtes = (1 to ClsIters).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT f.doc_id, ${sumdec("f.x * w.w")} / 1000000.0 AS sc
         |  FROM feat f JOIN w${t - 1} w USING (i) GROUP BY f.doc_id),
         |r$t AS MATERIALIZED (
         |  SELECT l.doc_id, s.sc - l.y AS r FROM lab l JOIN s$t s USING (doc_id)),
         |g$t AS MATERIALIZED (
         |  SELECT f.i, ${sumdec("f.x * r.r")}
         |    / CAST((SELECT n FROM nn) * 1000000 AS DOUBLE) AS g
         |  FROM feat f JOIN r$t r USING (doc_id) GROUP BY f.i),
         |w$t AS MATERIALIZED (
         |  SELECT w.i, w.w - 0.5 * coalesce(g.g, 0.0) AS w
         |  FROM w${t - 1} w LEFT JOIN g$t g USING (i))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
       |  FROM documents),
       |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
       |cf AS (
       |  SELECT doc_id, CAST(${clsFoldSql("t")} % $D AS INT) AS i,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |feat AS MATERIALIZED (
       |  SELECT cf.doc_id, cf.i, CAST(cf.c AS DOUBLE) / nt.n AS x
       |  FROM cf JOIN nt USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, $D AS i, 1.0 AS x FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN source IS NOT NULL AND ${clsFoldSql("source")} % 4 = 0
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents $labWhere),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents $labWhere),
       |w0 AS MATERIALIZED (
       |  SELECT CAST(r.range AS INT) AS i, 0.0 AS w FROM range(0, ${D + 1}) r),
       |$iterCtes,
       |sfin AS MATERIALIZED (
       |  SELECT f.doc_id, ${sumdec("f.x * w.w")} / 1000000.0 AS score
       |  FROM feat f JOIN w$ClsIters w USING (i) GROUP BY f.doc_id)""".stripMargin
  }

  private val clsCoreCtes: String = clsCtes()

  /** #195's oracle — [[clsCoreCtes]] + the per-doc verdict tail. */
  val qQualityClassifierSql: String =
    s"""$clsCoreCtes
       |SELECT l.doc_id, l.y = 1.0 AS is_ref, s.score AS score,
       |  s.score >= 0.5 AS keep
       |FROM lab l JOIN sfin s USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  /** #197 — `q_classifier_calibration`: the per-source THRESHOLD
    * dashboard an operator reads before setting the #195 keep rule
    * (the #98 calibration-family shape — GPT-3 tuned its Pareto
    * parameter against exactly this kind of readout): per source,
    * doc count, docs the 0.5 rule keeps, the keep rate, and the mean
    * classifier score. The mean re-enters fixed point (floor(score ×
    * 10⁶) summands — scores are NOT dyadic, so a raw double sum would
    * be order-dependent; the floored integers sum exactly and agree
    * bit-for-bit cross-engine) and leaves by one IEEE division;
    * keep_rate is two exact integers through one division. Shares the
    * fit verbatim with #195 (same persisted feature frame, same GD
    * rounds; the oracle reuses [[clsCoreCtes]]'s `sfin` scores).
    *
    * Scale: everything #195 costs plus ONE source-grain contraction —
    * the readout is strictly cheaper than the per-doc verdicts it
    * summarizes.
    */
  def qClassifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call("poly_hash", col("source")), lit(4L)) === 0
    val lab = docs.select(col("doc_id"),
      when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    val featV = classifierFeatureVecs(docs, "doc_id", "text").persist()
    val w = classifierFit(featV, lab, ClsDims, ClsIters, ClsLr)
    docs.select(col("doc_id"), col("source"))
      .join(scoreFeatVec(featV, w), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_keep"),
        (sum(floor(col("score") * lit(1000000.0)).cast("long"))
          .cast("double")
          / (count(lit(1)) * lit(1000000L)).cast("double")).as("mean_score"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"),
        col("mean_score"))
      .orderBy("source")
  }

  /** #197's oracle — [[clsCoreCtes]] + the per-source aggregate tail
    * (the same floor-to-micro⁶ mean and exact-integer keep rate).
    */
  val qClassifierCalibrationSql: String =
    s"""$clsCoreCtes
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS keep_rate,
       |  CAST(sum(CAST(floor(s.score * 1000000) AS BIGINT)) AS DOUBLE)
       |    / CAST(count(*) * 1000000 AS DOUBLE) AS mean_score
       |FROM documents d JOIN sfin s USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source NULLS FIRST""".stripMargin

  /** #198 — `q_classifier_holdout`: the #195 classifier evaluated on
    * UNSEEN data — fit on the deterministic train slice (doc_id % 5 ≠
    * 0, four fifths of the corpus), score the held-out fifth with the
    * frozen model, read out per source: docs, kept docs, keep rate,
    * fixed-point mean score, and the source's reference label. Because
    * the #195 label is a function of the source, per-source keep_rate
    * on held-out data IS the gate's selection behavior: recall for
    * reference sources, false-positive rate for the rest — the
    * quantified readout VERDICT r16 item 6 asked for (CurationSpec
    * proves precision/recall floors on a planted separable corpus,
    * where the synthetic gate corpus only pins the math).
    *
    * The split is `poly_hash(CAST(doc_id AS STRING)) % 5` — a raw
    * `doc_id % 5` would ride the corpus's round-robin id assignment
    * and hold out whole sources (measured: 4 of 20 at gate SF), which
    * evaluates nothing; the string poly hash decorrelates the split
    * from every id-assignment pattern, costs one tiny per-doc hash,
    * and both engines fold it bit-identically. NULL ids fall out of
    * both slices identically. The
    * fit reuses the one persisted feature frame (built over the whole
    * corpus — the fit's GD rounds restrict to train rows by joining
    * the train-only labels, and the held-out slice scores from the
    * same frame; the oracle MATERIALIZEs the same feat CTE with a
    * train-filtered lab).
    *
    * Scale: exactly #195's shape — the split adds one codegen'd filter
    * per side; nothing new shuffles.
    */
  def qClassifierHoldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call("poly_hash", col("source")), lit(4L)) === 0
    val split = pmod(call("poly_hash",
      col("doc_id").cast("string")), lit(5L))
    val lab = docs.where(split =!= 0)
      .select(col("doc_id"),
        when(coalesce(isRef, lit(false)), lit(1.0)).otherwise(lit(0.0)).as("y"))
    val featV = classifierFeatureVecs(docs, "doc_id", "text").persist()
    val w = classifierFit(featV, lab, ClsDims, ClsIters, ClsLr)
    docs.where(split === 0)
      .select(col("doc_id"), col("source"), isRef.as("is_ref"))
      .join(scoreFeatVec(featV, w), Seq("doc_id"))
      .groupBy("source", "is_ref")
      .agg(count(lit(1)).as("n_holdout"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_keep"),
        (sum(floor(col("score") * lit(1000000.0)).cast("long"))
          .cast("double")
          / (count(lit(1)) * lit(1000000L)).cast("double")).as("mean_score"))
      .select(col("source"), col("is_ref"), col("n_holdout"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_holdout").cast("double"))
          .as("keep_rate"),
        col("mean_score"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** #198's oracle — [[clsCtes]] with the train-slice filter + the
    * held-out per-source tail (the #197 fixed-point aggregate over the
    * complementary slice). The is_ref readout is null-source-safe on
    * both sides (NULL source → NULL is_ref).
    */
  val qClassifierHoldoutSql: String =
    s"""${clsCtes(s"WHERE ${clsFoldSql("CAST(doc_id AS VARCHAR)")} % 5 <> 0")}
       |SELECT d.source,
       |  CASE WHEN d.source IS NULL THEN CAST(NULL AS BOOLEAN)
       |    ELSE ${clsFoldSql("d.source")} % 4 = 0 END AS is_ref,
       |  CAST(count(*) AS BIGINT) AS n_holdout,
       |  CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS keep_rate,
       |  CAST(sum(CAST(floor(s.score * 1000000) AS BIGINT)) AS DOUBLE)
       |    / CAST(count(*) * 1000000 AS DOUBLE) AS mean_score
       |FROM documents d JOIN sfin s USING (doc_id)
       |WHERE ${clsFoldSql("CAST(d.doc_id AS VARCHAR)")} % 5 = 0
       |GROUP BY 1, 2
       |ORDER BY d.source NULLS FIRST""".stripMargin

  /** The Gopher rule battery's stopword list (Rae et al. 2021 list the
    * eight; a doc must contain at least two DISTINCT of them).
    */
  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val gopherStopsSql = GopherStops.map(w => s"'$w'").mkString(", ")

  /** #138 — `q_gopher_rules`: the Gopher quality-filter rule battery
    * (Rae et al. 2021, Table A1 — the most-cited public heuristic set,
    * reused by MassiveText descendants): word count in [50, 100000],
    * mean word length in [3, 10], symbol-to-word ratio (`#` chars +
    * `...` runs per word) ≤ 0.1, ≤ 90% of lines bullet-started
    * (`-`/`*`/`•`), ≤ 30% of lines ellipsis-ended (`...`/`…`), ≥ 80%
    * of words containing an alphabetic character, and ≥ 2 distinct
    * stopwords from the canonical eight. Output: the per-doc measures,
    * one boolean per rule, and the conjunction `pass` — per-rule
    * flags (not just the verdict) because a curation dashboard reports
    * WHICH rule fires, and the thresholds get re-tuned per corpus.
    *
    * Scale: pure map-side projection like the rest of this file (the
    * gate SF corpus fails mostly on word count — synthetic docs are
    * short — which is the rule that SHOULD fire there). Zero-word and
    * zero-line docs yield NULL ratios and per-rule NULL flags (the
    * dirty-record rule: the measure is undefined, stated identically
    * in both engines), while `pass` treats an undefined rule as a
    * failure — both engines coalesce each flag to false inside the
    * conjunction.
    */
  /** The #138 battery on any frame with an id + text column — shared
    * by the gated query and the [[graft.api.Graft.gopherRules]] facade.
    */
  /** Column-PRESERVING form of the #138 battery (internal names
    * `_g_*`, verdict `gopher_pass`) — the #151 fusion core.
    * [[gopherRules]] is its public-name projection.
    */
  private[graft] def withGopher(df: DataFrame, textCol: String): DataFrame = {
    val words = filter(split(col(textCol), " "), w => w =!= "")
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    def fb(c: Column): Column = coalesce(c, lit(false))
    df
      .withColumn("_g_n_words", size(words).cast("long"))
      .withColumn("_g_n_lines", size(lines).cast("long"))
      .withColumn("_g_mean_word_len",
        aggregate(words, lit(0L), (a, w) => a + length(w).cast("long"))
          .cast("double") / nz(col("_g_n_words")))
      .withColumn("_g_symbol_ratio",
        (regexp_count(col(textCol), lit("#")) +
          regexp_count(col(textCol), lit("\\.\\.\\.")))
          .cast("double") / nz(col("_g_n_words")))
      .withColumn("_g_bullet_frac",
        size(filter(lines, l => substring(l, 1, 1).isin("-", "*", "•")))
          .cast("double") / nz(col("_g_n_lines")))
      .withColumn("_g_ellipsis_frac",
        size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
          .cast("double") / nz(col("_g_n_lines")))
      .withColumn("_g_alpha_frac",
        size(filter(words, w => w.rlike("[A-Za-z]")))
          .cast("double") / nz(col("_g_n_words")))
      .withColumn("_g_n_stops",
        size(array_intersect(transform(words, w => lower(w)),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("_g_r_word_count", col("_g_n_words").between(50L, 100000L))
      .withColumn("_g_r_word_len", col("_g_mean_word_len").between(3.0, 10.0))
      .withColumn("_g_r_symbols", col("_g_symbol_ratio") <= 0.1)
      .withColumn("_g_r_bullets", col("_g_bullet_frac") <= 0.9)
      .withColumn("_g_r_ellipsis", col("_g_ellipsis_frac") <= 0.3)
      .withColumn("_g_r_alpha", col("_g_alpha_frac") >= 0.8)
      .withColumn("_g_r_stops", col("_g_n_stops") >= 2L)
      .withColumn("gopher_pass",
        fb(col("_g_r_word_count")) && fb(col("_g_r_word_len")) &&
          fb(col("_g_r_symbols")) && fb(col("_g_r_bullets")) &&
          fb(col("_g_r_ellipsis")) && fb(col("_g_r_alpha")) &&
          fb(col("_g_r_stops")))
  }

  private[graft] def gopherRules(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    withGopher(df, textCol)
      .select(col(idCol), col("_g_n_words").as("n_words"),
        col("_g_mean_word_len").as("mean_word_len"),
        col("_g_symbol_ratio").as("symbol_ratio"),
        col("_g_bullet_frac").as("bullet_frac"),
        col("_g_ellipsis_frac").as("ellipsis_frac"),
        col("_g_alpha_frac").as("alpha_frac"),
        col("_g_n_stops").as("n_stops"),
        col("_g_r_word_count").as("r_word_count"),
        col("_g_r_word_len").as("r_word_len"),
        col("_g_r_symbols").as("r_symbols"),
        col("_g_r_bullets").as("r_bullets"),
        col("_g_r_ellipsis").as("r_ellipsis"),
        col("_g_r_alpha").as("r_alpha"),
        col("_g_r_stops").as("r_stops"),
        col("gopher_pass").as("pass"))

  def qGopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  val qGopherRulesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS words,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS lines,
       |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT)
       |      + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS symbols
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(COALESCE(list_sum(list_transform(words, w -> CAST(length(w) AS BIGINT))), 0) AS DOUBLE)
       |      / nullif(len(words), 0) AS mean_word_len,
       |    CAST(symbols AS DOUBLE) / nullif(len(words), 0) AS symbol_ratio,
       |    CAST(len(list_filter(lines, l -> left(l, 1) IN ('-', '*', '•'))) AS DOUBLE)
       |      / nullif(len(lines), 0) AS bullet_frac,
       |    CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
       |      / nullif(len(lines), 0) AS ellipsis_frac,
       |    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
       |      / nullif(len(words), 0) AS alpha_frac,
       |    CAST(len(list_distinct(list_intersect(
       |      list_transform(words, w -> lower(w)),
       |      [$gopherStopsSql]))) AS BIGINT) AS n_stops
       |  FROM t),
       |f AS (
       |  SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |    ellipsis_frac, alpha_frac, n_stops,
       |    n_words BETWEEN 50 AND 100000 AS r_word_count,
       |    mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
       |    symbol_ratio <= 0.1 AS r_symbols,
       |    bullet_frac <= 0.9 AS r_bullets,
       |    ellipsis_frac <= 0.3 AS r_ellipsis,
       |    alpha_frac >= 0.8 AS r_alpha,
       |    n_stops >= 2 AS r_stops
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |  ellipsis_frac, alpha_frac, n_stops,
       |  r_word_count, r_word_len, r_symbols, r_bullets, r_ellipsis,
       |  r_alpha, r_stops,
       |  (COALESCE(r_word_count, false) AND COALESCE(r_word_len, false)
       |    AND COALESCE(r_symbols, false) AND COALESCE(r_bullets, false)
       |    AND COALESCE(r_ellipsis, false) AND COALESCE(r_alpha, false)
       |    AND COALESCE(r_stops, false)) AS pass
       |FROM f ORDER BY doc_id""".stripMargin

  /** #139 — `q_lm_buckets`: CCNet-style LM-score bucketing (Wenzek et
    * al. 2020 — score every doc with a small LM, split each language
    * into head/middle/tail thirds, train preferentially on the head):
    * per-language tercile CUTOFFS over the #126 unigram-LM score, then
    * a map-side bucket assignment. Head = the top-scoring (least
    * negative) third; ties exactly at a cutoff fall to the lower
    * bucket in both engines (strict `>`).
    *
    * Scale shape — deliberately NOT a per-language ntile window (one
    * task would sort a whole language at 100 TB): the cutoff frame is
    * LANGUAGE-grain (a handful of rows) and broadcasts; the corpus
    * never shuffles to learn its bucket. This is CCNet's own
    * deployment shape — cutoffs from the score distribution, then a
    * streaming re-scan assigns buckets. The exact `percentile`
    * aggregate buffers each language's scores (the #62 caveat); the
    * 100 TB path swaps in `approx_percentile`, the same exact/approx
    * pairing as #62/#63. Cutoffs are rounded once to 6 dp (on
    * 6-dp-rounded score inputs) so both engines compare bit-identical
    * doubles; unscored (token-less) docs keep the dirty-record rule:
    * visible, NULL bucket.
    */
  /** The #139 bucketing on any frame against any (possibly FROZEN)
    * [[unigramModel]] — shared by the gated query (model == corpus)
    * and the [[graft.api.Graft.lmBuckets]] facade, which composes
    * with a persisted model the way #130 does for plain scoring.
    */
  private[graft] def lmBuckets(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String, langCol: String): DataFrame = {
    val scored = scoreQualityLm(df, model, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
    val cuts = scored.where(col("avg_logprob").isNotNull)
      .groupBy(langCol)
      .agg(expr("percentile(avg_logprob, array(1.0D/3, 2.0D/3))").as("c"))
      .select(col(langCol),
        round(col("c").getItem(0), 6).as("c_lo"),
        round(col("c").getItem(1), 6).as("c_hi"))
    scored.join(broadcast(cuts), Seq(langCol), "left")
      .select(col(idCol), col(langCol), col("avg_logprob"),
        when(col("avg_logprob").isNull, lit(null).cast("string"))
          .when(col("avg_logprob") > col("c_hi"), "head")
          .when(col("avg_logprob") > col("c_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }

  def qLmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    lmBuckets(docs, unigramModel(docs, "text"), "doc_id", "text", "lang")
      .orderBy("doc_id")
  }

  val qLmBucketsSql: String =
    s"""WITH $lmCtesSql,
      |scored AS (
      |  SELECT d.doc_id, d.lang,
      |    round(CAST(lp_sum AS DOUBLE) / per.n_toks, 6) AS avg_logprob
      |  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
      |cuts AS (
      |  SELECT lang,
      |    round(quantile_cont(avg_logprob, 1.0/3), 6) AS c_lo,
      |    round(quantile_cont(avg_logprob, 2.0/3), 6) AS c_hi
      |  FROM scored WHERE avg_logprob IS NOT NULL GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.avg_logprob,
      |  CASE WHEN s.avg_logprob IS NULL THEN NULL
      |       WHEN s.avg_logprob > c.c_hi THEN 'head'
      |       WHEN s.avg_logprob > c.c_lo THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM scored s LEFT JOIN cuts c ON s.lang = c.lang
      |ORDER BY s.doc_id""".stripMargin

  /** #144 thresholds — Rae et al. 2021 Table A1's repetition column,
    * verbatim: duplicate line/paragraph fraction ≤ 0.30, duplicate
    * line/paragraph CHARACTER fraction ≤ 0.20, top {2,3,4}-gram
    * character fraction ≤ {0.20, 0.18, 0.16}, duplicate {5..10}-gram
    * character fraction ≤ {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
    */
  private[graft] val RepLineTau = 0.30
  private[graft] val RepLineCharTau = 0.20
  private[graft] val TopGramTaus = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private[graft] val DupGramTaus =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** #144 — `q_gopher_repetition`: the Gopher REPETITION battery (Rae
    * et al. 2021 Table A1's second column — the within-document
    * repetition signals every MassiveText descendant reuses, distinct
    * from #138's quality rules and from #71's single distinct-3-gram
    * measure): duplicate line and paragraph fractions, duplicate
    * line/paragraph character fractions, the character mass of the
    * MOST COMMON {2,3,4}-gram, and the character mass of ALL
    * duplicated {5..10}-grams — thirteen measures plus the verdict.
    *
    * Contract (each choice mirrors the most-used public
    * implementation and is fixed here so both engines agree):
    * lines are trimmed `\n`-segments, paragraphs trimmed `\n\n`-
    * segments, blanks dropped; "duplicate characters" count every
    * occurrence AFTER the first — Σ(c−1)·len over values with count
    * c ≥ 2 — over the segment character total; n-gram fractions are
    * over the RAW text length; the top n-gram is the (count, gram)
    * struct maximum (ties break to the lexicographically larger
    * gram) and contributes c·len only when c ≥ 2; duplicated-n-gram
    * mass is the same Σ(c−1)·len rule (overlapping occurrences each
    * count — the positional-union refinement of the original paper
    * is NOT applied, stated here). Zero-word docs keep the
    * dirty-record rule: NULL measures, `pass` = false.
    *
    * Scale: pure per-row projection — the whole battery is ONE
    * compiled pass per row ([[graft.functions.GopherRepMeasures]],
    * a codegen'd Catalyst expression), so the operator never
    * shuffles, never forms a (doc, gram) grain, and runs at
    * parquet-scan speed at 100 TB (PlanSpec pins no exchange, no
    * join). Two slower formulations preceded it, both measured
    * (SCALING.md probe 18): nested HOFs re-evaluate captured
    * expressions per element (minutes/500 docs), and even the staged
    * sorted-array form paid ~2 ms/doc of interpreted HOF overhead —
    * the compiled expression removes both. The oracle computes the
    * same contract relationally (explode → group-by → pivot), which
    * is exactly the shape this operator avoids at scale.
    */
  private[graft] def gopherRepetition(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val names = graft.functions.GopherRepMeasures.measureNames :+ "pass"
    df.select(col(idCol),
        call("gopher_rep_measures", col(textCol)).as("_m"))
      .select(col(idCol) +: names.map(n => col(s"_m.$n").as(n)): _*)
  }

  def qGopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetition(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Display names and keep-flag sources for the #151 agreement
    * matrix — the four published filter batteries this engine ships.
    */
  private val AgreementFilters =
    Seq("c4", "gopher_quality", "gopher_repetition", "lm_head_middle")

  /** #151 — `q_filter_agreement`: the pairwise AGREEMENT matrix of
    * the four published filter batteries (#137 C4 page rules, #138
    * Gopher quality, #144 Gopher repetition, #139 CCNet LM bucketing
    * with keep = head∪middle): for every filter pair, how many docs
    * both keep, both drop, or exactly one keeps, and the agreement
    * rate. This is the filter-ablation readout curation reports lead
    * with (the FineWeb-style finding that published filters disagree
    * far more than assumed — the matrix is what justifies running
    * them in conjunction or union).
    *
    * Scale: ONE text scan computes the three map-side batteries (the
    * column-preserving [[withC4]]/[[withGopher]] cores plus the
    * compiled #144 expression fuse into a single projection — no
    * joins between them); the LM flag is the one inherently
    * corpus-level input (vocabulary-grain aggregates + a doc-grain
    * score join, #139's own shape). The matrix itself is one scalar
    * aggregate of predicate sums unpivoted by `stack` — six rows out,
    * integer counts, one exact division each.
    */
  private[graft] def filterAgreement(df: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      col(textCol).as("text"), col(langCol).as("lang"))
    val flags3 = withGopher(withC4(base, "text"), "text")
      .withColumn("f_gopher_repetition",
        call("gopher_rep_measures", col("text")).getField("pass"))
      // NULL-text rows carry NULL battery flags; coalesce ALL flags to
      // false (the dirty-record convention the LM flag below already
      // follows) or those rows silently vanish from every pair sum
      // while still counting in n — the cells would no longer
      // partition the corpus and agree_rate would skew (ADVICE r11)
      .select(col("doc_id"),
        coalesce(col("c4_keep"), lit(false)).as("f_c4"),
        coalesce(col("gopher_pass"), lit(false)).as("f_gopher_quality"),
        coalesce(col("f_gopher_repetition"), lit(false))
          .as("f_gopher_repetition"))
    val lm = lmBuckets(base, unigramModel(base, "text"),
        "doc_id", "text", "lang")
      .select(col("doc_id"),
        coalesce(col("bucket") =!= "tail", lit(false))
          .as("f_lm_head_middle"))
    val flags = flags3.join(lm, "doc_id")
    val pairs = for {
      i <- AgreementFilters.indices
      j <- (i + 1) until AgreementFilters.size
    } yield (AgreementFilters(i), AgreementFilters(j))
    val aggCols = count(lit(1)).as("n") +: pairs.zipWithIndex.flatMap {
      case ((a, b), k) =>
        val fa = col(s"f_$a")
        val fb = col(s"f_$b")
        Seq(
          sum((fa && fb).cast("long")).as(s"bk$k"),
          sum((!fa && !fb).cast("long")).as(s"bd$k"),
          sum((fa && !fb).cast("long")).as(s"oa$k"),
          sum((!fa && fb).cast("long")).as(s"ob$k"))
    }
    val a = flags.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = pairs.zipWithIndex.map { case ((x, y), k) =>
      s"'$x', '$y', bk$k, bd$k, oa$k, ob$k"
    }.mkString(",\n  ")
    a.selectExpr("n",
        s"""stack(${pairs.size},
           |  $stackArgs
           |) AS (filter_a, filter_b, both_keep, both_drop, only_a, only_b)""".stripMargin)
      .select(col("filter_a"), col("filter_b"),
        col("both_keep"), col("both_drop"),
        col("only_a"), col("only_b"),
        ((col("both_keep") + col("both_drop")).cast("double") / col("n"))
          .as("agree_rate"))
      .orderBy("filter_a", "filter_b")
  }

  def qFilterAgreement(spark: SparkSession, dir: String): DataFrame =
    filterAgreement(Tables.documents(spark, dir), "doc_id", "text", "lang")

  /** Oracle twin of [[filterAgreement]] — composes the four
    * batteries' OWN oracle queries as subqueries (one definition of
    * each flag), joins at doc grain, and unpivots the pair sums by
    * UNION ALL.
    */
  // lazy: composes qGopherRepetitionSql, declared LATER in this object
  // — an eager val would capture null at object init
  lazy val qFilterAgreementSql: String = {
    val pairs = for {
      i <- AgreementFilters.indices
      j <- (i + 1) until AgreementFilters.size
    } yield (AgreementFilters(i), AgreementFilters(j))
    val sums = pairs.zipWithIndex.map { case ((a, b), k) =>
      s"""    CAST(sum(CASE WHEN f_$a AND f_$b THEN 1 ELSE 0 END) AS BIGINT) AS bk$k,
         |    CAST(sum(CASE WHEN NOT f_$a AND NOT f_$b THEN 1 ELSE 0 END) AS BIGINT) AS bd$k,
         |    CAST(sum(CASE WHEN f_$a AND NOT f_$b THEN 1 ELSE 0 END) AS BIGINT) AS oa$k,
         |    CAST(sum(CASE WHEN NOT f_$a AND f_$b THEN 1 ELSE 0 END) AS BIGINT) AS ob$k""".stripMargin
    }.mkString(",\n")
    val rows = pairs.zipWithIndex.map { case ((x, y), k) =>
      s"""SELECT '$x' AS filter_a, '$y' AS filter_b, bk$k AS both_keep,
         |  bd$k AS both_drop, oa$k AS only_a, ob$k AS only_b,
         |  CAST(bk$k + bd$k AS DOUBLE) / n AS agree_rate FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH c4f AS (
       |  SELECT doc_id, COALESCE(keep, false) AS f_c4 FROM ($qC4RulesSql) AS c4q),
       |gqf AS (
       |  SELECT doc_id, COALESCE(pass, false) AS f_gopher_quality
       |  FROM ($qGopherRulesSql) AS gq),
       |grf AS (
       |  SELECT doc_id, COALESCE(pass, false) AS f_gopher_repetition
       |  FROM ($qGopherRepetitionSql) AS grq),
       |lmf AS (
       |  SELECT doc_id, COALESCE(bucket <> 'tail', false) AS f_lm_head_middle
       |  FROM ($qLmBucketsSql) AS lmq),
       |j AS (
       |  SELECT * FROM c4f
       |  JOIN gqf USING (doc_id)
       |  JOIN grf USING (doc_id)
       |  JOIN lmf USING (doc_id)),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |$sums
       |  FROM j)
       |$rows
       |ORDER BY filter_a, filter_b""".stripMargin
  }

  /** Oracle twin of [[gopherRepetition]] — the RELATIONAL formulation
    * of the same contract (explode to (doc, value) grains, group,
    * pivot back), kept deliberately different in shape from the
    * map-side engine so the gate checks semantics, not shared code.
    */
  val qGopherRepetitionSql: String = {
    def segCte(src: String, alias: String): String =
      s"""${alias}g AS (
         |  SELECT doc_id, unnest($src) AS v FROM t),
         |${alias}c AS (
         |  SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c,
         |    CAST(length(v) AS BIGINT) AS L
         |  FROM ${alias}g GROUP BY 1, 2),
         |${alias}s AS (
         |  SELECT doc_id, sum(c) AS n, count(*) AS d, sum(c*L) AS total,
         |    sum(CASE WHEN c >= 2 THEN (c-1)*L ELSE 0 END) AS dup
         |  FROM ${alias}c GROUP BY 1)""".stripMargin
    val topNs = TopGramTaus.keys.toSeq.sorted
    val dupNs = DupGramTaus.keys.toSeq.sorted
    val gramCtes =
      s"""nv AS (SELECT unnest([${(topNs ++ dupNs).mkString(", ")}]) AS n),
         |gr AS (
         |  SELECT doc_id, n,
         |    unnest(CASE WHEN len(toks) < n THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(toks) - n + 2),
         |             i -> array_to_string(list_slice(toks, i, i + n - 1), ' '))
         |      END) AS gram
         |  FROM t CROSS JOIN nv),
         |gc AS (
         |  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c,
         |    CAST(length(gram) AS BIGINT) AS L
         |  FROM gr GROUP BY 1, 2, 3),
         |topm AS (
         |  SELECT doc_id, n, CASE WHEN c >= 2 THEN c * L ELSE 0 END AS mass
         |  FROM (SELECT doc_id, n, c, L, row_number() OVER (
         |          PARTITION BY doc_id, n ORDER BY c DESC, gram DESC) AS rk
         |        FROM gc) AS q WHERE rk = 1),
         |dupm AS (
         |  SELECT doc_id, n,
         |    sum(CASE WHEN c >= 2 THEN (c-1)*L ELSE 0 END) AS mass
         |  FROM gc GROUP BY 1, 2),
         |tp AS (
         |  SELECT doc_id,
         |${topNs.map(n => s"    max(CASE WHEN n = $n THEN mass END) AS t$n").mkString(",\n")}
         |  FROM topm GROUP BY 1),
         |dp AS (
         |  SELECT doc_id,
         |${dupNs.map(n => s"    max(CASE WHEN n = $n THEN mass END) AS d$n").mkString(",\n")}
         |  FROM dupm GROUP BY 1)""".stripMargin
    val topSel = topNs.map(n =>
      s"""  CASE WHEN m.n_words = 0 THEN NULL ELSE
         |    CAST(COALESCE(tp.t$n, 0) AS DOUBLE)
         |    / nullif(m.n_chars, 0) END AS top_${n}gram_char_frac""".stripMargin).mkString(",\n")
    val dupSel = dupNs.map(n =>
      s"""  CASE WHEN m.n_words = 0 THEN NULL ELSE
         |    CAST(COALESCE(dp.d$n, 0) AS DOUBLE)
         |    / nullif(m.n_chars, 0) END AS dup_${n}gram_char_frac""".stripMargin).mkString(",\n")
    val passTerms = (Seq(
      s"COALESCE(dup_line_frac <= $RepLineTau, false)",
      s"COALESCE(dup_line_char_frac <= $RepLineCharTau, false)",
      s"COALESCE(dup_para_frac <= $RepLineTau, false)",
      s"COALESCE(dup_para_char_frac <= $RepLineCharTau, false)") ++
      topNs.map(n => s"COALESCE(top_${n}gram_char_frac <= ${TopGramTaus(n)}, false)") ++
      dupNs.map(n => s"COALESCE(dup_${n}gram_char_frac <= ${DupGramTaus(n)}, false)"))
      .mkString(" AND ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS toks,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS lines,
       |    list_filter(list_transform(string_split(text, chr(10)||chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS paras
       |  FROM documents),
       |${segCte("lines", "l")},
       |${segCte("paras", "p")},
       |$gramCtes,
       |m AS (
       |  SELECT t.doc_id,
       |    CAST(len(t.toks) AS BIGINT) AS n_words,
       |    CAST(length(t.text) AS BIGINT) AS n_chars,
       |    CAST(ls.n - ls.d AS DOUBLE) / nullif(ls.n, 0) AS dup_line_frac,
       |    CAST(ls.dup AS DOUBLE) / nullif(ls.total, 0) AS dup_line_char_frac,
       |    CAST(ps.n - ps.d AS DOUBLE) / nullif(ps.n, 0) AS dup_para_frac,
       |    CAST(ps.dup AS DOUBLE) / nullif(ps.total, 0) AS dup_para_char_frac
       |  FROM t
       |  LEFT JOIN ls ON t.doc_id = ls.doc_id
       |  LEFT JOIN ps ON t.doc_id = ps.doc_id),
       |f AS (
       |  SELECT m.doc_id, m.n_chars, m.dup_line_frac, m.dup_line_char_frac,
       |    m.dup_para_frac, m.dup_para_char_frac,
       |$topSel,
       |$dupSel
       |  FROM m
       |  LEFT JOIN tp ON m.doc_id = tp.doc_id
       |  LEFT JOIN dp ON m.doc_id = dp.doc_id)
       |SELECT doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
       |  dup_para_char_frac,
       |${topNs.map(n => s"  top_${n}gram_char_frac").mkString(",\n")},
       |${dupNs.map(n => s"  dup_${n}gram_char_frac").mkString(",\n")},
       |  CASE WHEN n_chars IS NULL THEN NULL ELSE ($passTerms) END AS pass
       |FROM f ORDER BY doc_id""".stripMargin
  }
}
