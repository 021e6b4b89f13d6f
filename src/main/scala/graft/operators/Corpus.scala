package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SqlFunctions.call

/** Corpus-level operators a training-data pipeline needs beyond
  * dedup/similarity (SURVEY.md §2.3 extension): deterministic
  * stratified sampling and n-gram language statistics.
  *
  * Scale notes: sampling is one window over the stratum key (single
  * shuffle, map-side prunable to 3 columns); the n-gram stats are
  * explode → two-phase hash aggregate → per-group top-k with
  * WindowGroupLimit pushing the limit below the shuffle. Both are
  * pure integer/string math — deterministic under any partitioning.
  */
object Corpus {

  /** THE sampling hash — one definition for #37, #56, and the facade's
    * `hashSample`, so the "same integer hash" contract between the
    * exact and approximate samplers cannot drift. LCG-style
    * multiplicative hash into [0, 2³¹): the id's high bits are folded
    * into the low ones first (`id ^ (id >> 31)`) so 64-bit ids
    * differing only above bit 30 don't share a hash class — without
    * the fold, ids differing by a multiple of 2³¹ would always land in
    * the same keep/drop decision at billion-document scale. The folded
    * operand is pmod-reduced BEFORE the multiply so the product stays
    * below 2⁶² (no engine-dependent overflow), and the result is
    * non-negative for ANY id including negatives (pmod, not %). For
    * ids in [0, 2³¹) the fold is the identity, so small-id corpora
    * hash exactly as before.
    */
  private[graft] def hash31(id: Column): Column = {
    val folded = id.bitwiseXOR(shiftright(id, 31))
    pmod(pmod(folded, lit(2147483648L)) * lit(1103515245L), lit(2147483648L))
  }

  /** SQL twin of [[hash31]]. `%` is NOT pmod in DuckDB (negative ids
    * yield negative residues there, while Spark's pmod never does), so
    * the twin folds each reduction to the non-negative residue
    * explicitly; DuckDB's `>>` on BIGINT is the same arithmetic shift
    * as Spark's `shiftright` — parity verified on negative and
    * boundary ids. Bit-identical to [[hash31]] for any BIGINT id.
    */
  private[graft] def hash31Sql(idExpr: String): String =
    s"(((((xor($idExpr, $idExpr >> 31) % 2147483648) + 2147483648) % 2147483648) * 1103515245) % 2147483648)"

  /** Exact 10%-per-stratum sample, deterministic: docs rank within
    * their (source, lang) stratum by an LCG-style multiplicative hash
    * of doc_id (reproducible in any engine with 64-bit integer math —
    * no RNG, no seed drift) and the top ceil(n/10) survive. The
    * operands are reduced mod 2^31 BEFORE the multiply so the product
    * stays below 2^62 for any doc_id — no engine-dependent overflow
    * wrapping at billion-document scale.
    *
    * WHEN TO USE WHICH (the exact/approx pairing #11/#40 also
    * follows): this exact-rank variant funnels each stratum through
    * one task (two whole-stratum windows) — fine while every stratum
    * fits one executor, a straggler/OOM shape at 100 TB with a few
    * huge strata. [[qSampleHash]] (#56) is the corpus-scale default:
    * map-only, ZERO shuffles, same determinism, per-stratum fraction
    * holds in expectation rather than exactly. Pick exact-rank when
    * the contract is "exactly ceil(n/10) per stratum", hash-threshold
    * when it is "~10% of everything, cheaply, at any scale".
    */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source", "lang").orderBy(col("h"), col("doc_id"))
    val n = Window.partitionBy("source", "lang")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        hash31(col("doc_id")).as("h"))
      .withColumn("stratum_n", count(lit(1)).over(n))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= ceil(col("stratum_n") / 10.0))
      .select("doc_id", "source", "lang", "stratum_n", "rk")
      .orderBy("doc_id")
  }

  val qSampleStratifiedSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, lang,
      |    ${hash31Sql("doc_id")} AS h,
      |    count(*) OVER (PARTITION BY source, lang) AS stratum_n,
      |    row_number() OVER (PARTITION BY source, lang
      |      ORDER BY ${hash31Sql("doc_id")}, doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source, lang, stratum_n, CAST(rk AS BIGINT) AS rk
      |FROM t WHERE rk <= ceil(stratum_n / 10.0) ORDER BY doc_id""".stripMargin

  /** Threshold the shared multiplicative hash keeps a row under; the
    * SQL twin embeds the same literal. floor(0.10 · 2³¹) — the sample
    * fraction, expressed exactly in integers.
    */
  private val HashSampleThreshold = 214748364L

  /** #56 — `q_sample_hash`: the map-only companion to #37 — keep a doc
    * iff its multiplicative hash lands under 10% of the 2³¹ hash
    * space. ZERO shuffles (the gate's presentation sort is the only
    * exchange in the gated form; the facade form is a pure scan +
    * filter — plan-asserted in PlanSpec): no window, no stratum state,
    * every partition filters independently — the shape that survives
    * any stratum skew at 100 TB. Deterministic: same integer hash as
    * #37, so the kept set is stable across engines and runs; each
    * stratum retains ~10% in expectation (the fraction is exact only
    * corpus-wide as n → ∞, the documented trade vs #37's exact ranks).
    */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        hash31(col("doc_id")).as("h"))
      .where(col("h") < HashSampleThreshold)
      .orderBy("doc_id")

  val qSampleHashSql: String =
    s"""SELECT doc_id, source, lang,
      |  ${hash31Sql("doc_id")} AS h
      |FROM documents
      |WHERE ${hash31Sql("doc_id")} < $HashSampleThreshold
      |ORDER BY doc_id""".stripMargin

  /** Per-source mixture rates in basis points (10000 = keep all).
    * THE config both #91 forms share: the oracle SQL's VALUES literal
    * is generated from this Seq, so the Spark config frame and the
    * DuckDB twin cannot drift. Rates slope down with the source index
    * so every rate class (keep-all, majority, minority) is exercised.
    */
  private[graft] val MixRatesBp: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", 10000L - 450L * i))

  /** #91 — `q_sample_weighted`: MIXTURE sampling — each source keeps
    * the fraction a weights config assigns it (the data-mixing step
    * that turns raw corpora into a training mix). The config is a
    * 20-row frame that BROADCASTS; the corpus side stays map-only —
    * same zero-shuffle shape as #56, with the keep threshold now per
    * row: `h < rate_bp·2³¹ div 10⁴`, all in 64-bit integer math (the
    * product tops out near 2⁴⁵ — no overflow, no float rounding at
    * the keep/drop boundary). Sources absent from the config are
    * dropped by the inner join: the mix config is a whitelist, which
    * is the fail-safe default for a training mix (an unlisted source
    * silently kept at 100% would poison the mix; one dropped is
    * visible in the per-source counts).
    */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weights = MixRatesBp.toDF("source", "rate_bp")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        hash31(col("doc_id")).as("h"))
      .join(broadcast(weights), "source")
      .where(col("h") < expr("rate_bp * 2147483648 div 10000"))
      .select("doc_id", "source", "lang", "h", "rate_bp")
      .orderBy("doc_id")
  }

  val qSampleWeightedSql: String = {
    val values = MixRatesBp
      .map { case (s, bp) => s"('$s', CAST($bp AS BIGINT))" }.mkString(", ")
    s"""WITH w(source, rate_bp) AS (VALUES $values)
       |SELECT doc_id, d.source, lang, ${hash31Sql("doc_id")} AS h, rate_bp
       |FROM documents d JOIN w ON d.source = w.source
       |WHERE ${hash31Sql("doc_id")} < (rate_bp * 2147483648) // 10000
       |ORDER BY doc_id""".stripMargin
  }

  /** Shard count for #92; the SQL twin embeds the same literal. */
  private[graft] val NumShards = 16L

  /** #92 — `q_shard_assign`: deterministic training-shard layout
    * readout — every doc lands in shard `hash31(doc_id) mod 16`, and
    * the output is the per-shard balance (doc count, character total)
    * a pipeline checks BEFORE writing shards, because one oversized
    * shard becomes the straggler of every downstream training epoch.
    * Map-side projection + one 16-group aggregate; the assignment is
    * pure integer math, so the same doc lands in the same shard on
    * any engine, any run, any partitioning — re-sharding is
    * reproducible. Writing is one `partitionBy("shard")` away; this
    * query is the decision input, not the write.
    */
  def qShardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(pmod(hash31(col("doc_id")), lit(NumShards)).as("shard"),
        col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("shard")

  val qShardAssignSql: String =
    s"""SELECT ${hash31Sql("doc_id")} % $NumShards AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  /** Tokens per training sequence for #106; the SQL twin embeds the
    * same literal. 512 yields multiple packs AND straddling documents
    * per shard at the sf0.01 gate (a shard carries ~1.4-1.9 k tokens
    * there — a 2048 budget would leave every shard in pack 0 and the
    * boundary logic untested); production sets the model's context
    * length.
    */
  private[graft] val PackBudget = 512L

  /** #106 — `q_pack_sequences`: concat-and-chunk sequence packing —
    * the step between curation and training that turns a shard's
    * documents into fixed-budget token sequences. Documents are laid
    * out in deterministic (shard, doc_id) order on the #92 shard
    * layout, the token stream is cut every [[PackBudget]] tokens
    * (documents MAY straddle a cut — the standard concat-and-chunk
    * recipe, not bin packing), and each doc belongs to the pack its
    * first token lands in. Output is the per-(shard, pack) readout a
    * pipeline checks before writing sequences: docs starting in the
    * pack, their token mass, and how many straddle into the next pack
    * (the fraction of truncated-context documents). A pack inside a
    * single giant document has no starting docs and no row — by
    * design, the readout is per document start.
    *
    * Null/empty texts count 0 tokens ([[Text.wsTokenCount]] is null
    * on null text; coalesced here) so a dirty doc shifts no
    * boundaries. The running sum is integer math in deterministic
    * order — same packs on any engine, any run, any partitioning.
    *
    * Scale: ONE shuffle (hash by shard), window cumsum within the
    * shard, and the (shard, pack) aggregate reuses the window's
    * partitioning (HashPartitioning(shard) already clusters
    * (shard, pack_id) — no second exchange; pinned in PlanSpec). The
    * per-shard sequential cumsum is the inherently serial part; at
    * 100 TB you raise [[NumShards]] so each shard's window fits one
    * executor — the layout dial #92 already exposes.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    packAssign(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          coalesce(graft.operators.Text.wsTokenCount, lit(0L))
            .as("n_tokens")),
      "doc_id", "n_tokens", PackBudget, NumShards)
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("is_split"), 1L).otherwise(0L)).as("n_split"))
      .orderBy("shard", "pack_id")

  /** The #106 core, row-level: appends `shard` (hash31(id) mod
    * `nShards`), `pack_id` (the pack the row's first token lands in —
    * concat-and-chunk cuts every `budget` tokens of the shard's
    * id-ordered token stream), and `is_split` (the row straddles a
    * cut) to any frame with an integral id and a token-count column.
    * This is the frame a writer partitions by (shard, pack_id) to lay
    * out training sequences; the gated query is its aggregate
    * readout. Null token counts pack as 0 tokens. One hash exchange
    * (the shard window); the output columns are part of the contract,
    * so the input must not already carry them — guarded loudly, the
    * `transitions` discipline. Ids must be UNIQUE (the #121 corpusDiff
    * contract): the cumulative sum orders by id alone, so duplicate
    * ids within a shard make `pack_id`/`is_split` nondeterministic
    * across partitionings.
    */
  private[graft] def packAssign(df: DataFrame, idCol: String,
      tokensCol: String, budget: Long, nShards: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val dt = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
      s"packAssign needs an integral id column; '$idCol' is ${dt.simpleString}")
    Seq("shard", "pack_id", "is_split", "_graft_cum").foreach(r =>
      require(!df.columns.contains(r),
        s"packAssign emits a '$r' column; rename the input's '$r' first"))
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = lit(budget)
    val n = coalesce(col(tokensCol).cast("long"), lit(0L))
    // pack boundaries via INTEGRAL division (Spark's `div` =
    // IntegralDivide), not double `/` + floor: the double quotient is
    // only exact below 2^53, and at extreme cumulative token sums its
    // rounding could cross a pack boundary the oracle's integer `//`
    // does not (ADVICE r15). Operands are non-negative, so div ==
    // floor division in both engines.
    df.withColumn("shard", pmod(hash31(col(idCol)), lit(nShards)))
      .withColumn("_graft_cum", sum(n).over(w) - n)
      .withColumn("pack_id", call_function("div", col("_graft_cum"), b))
      .withColumn("is_split", n > 0 &&
        call_function("div", col("_graft_cum") + n - lit(1L), b) >
          col("pack_id"))
      .drop("_graft_cum")
  }

  val qPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT ${hash31Sql("doc_id")} % $NumShards AS shard, doc_id,
       |    COALESCE(${graft.operators.Text.wsTokenCountSql}, 0) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT shard, doc_id, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
       |  FROM t)
       |SELECT shard, CAST(cum_before // $PackBudget AS BIGINT) AS pack_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN n_tokens > 0
       |    AND (cum_before + n_tokens - 1) // $PackBudget
       |        > cum_before // $PackBudget
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split
       |FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin

  /** Gate dials for #162 — sized so the sf0.01 corpus exercises BOTH
    * regimes: multi-chunk docs (window boundaries + the overlap tail)
    * and single-chunk docs shorter than one window. Production sets
    * the retrieval/training context: 512/448 for passage retrieval,
    * 2048/2048 for non-overlapping pretraining blocks.
    */
  private[graft] val ChunkWindow = 64
  private[graft] val ChunkStride = 48

  /** #162 — `q_chunk_passages`: fixed-window overlapping passage
    * chunking — the step that turns curated documents into
    * retrieval/training passages (the published RAG/dense-retrieval
    * recipe: token windows of `window` words advancing by `stride`,
    * adjacent chunks overlapping by `window - stride` so no boundary
    * sentence is split away from all its context). Chunk starts are
    * 0, stride, 2·stride, … advancing while the previous window has
    * not yet reached the end of the doc (last chunk_id =
    * ⌈max(0, n − window)/stride⌉), so every token belongs to ≥1
    * chunk, the tail chunk may be short (`n_tokens < window`), and no
    * chunk is a pure suffix of its predecessor — the HF
    * `return_overflowing_tokens` convention (a doc of exactly one
    * window yields exactly one chunk). Tokens are #34's whitespace words (the shared
    * [[Text.wsTokenCount]] token definition), reassembled with single
    * spaces; NULL/empty/whitespace-only docs produce no chunks (the
    * dirty-record rule: nothing to retrieve from).
    *
    * Scale: stateless map-side explode — zero shuffles besides the
    * gate's presentation sort (PlanSpec pins it); fan-out is
    * 1+⌈max(0, n−window)/stride⌉ rows per doc, linear in corpus
    * token mass. A
    * writer partitions the row-level [[chunkRows]] output by shard
    * (#92) instead of sorting; chunk ids are per-doc ordinals, so the
    * operator is embarrassingly parallel at any corpus size and safe
    * to run at ingest (stateless ⟹ trivially streamable).
    */
  def qChunkPassages(spark: SparkSession, dir: String): DataFrame =
    chunkRows(Tables.documents(spark, dir), "doc_id", "text",
      ChunkWindow, ChunkStride)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_text")
      .orderBy("doc_id", "chunk_id")

  /** The #162 core, row-level and schema-generic: chunk any frame's
    * text column into (id, chunk_id, start_tok, n_tokens, chunk_text)
    * rows. Output columns are part of the contract, so the input must
    * not already carry them (guarded loudly — the packAssign
    * discipline). `stride ≤ window` keeps every token covered;
    * `stride = window` is non-overlapping block chunking.
    */
  private[graft] def chunkRows(df: DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window=$window], got $stride")
    // the scratch names are reserved too: with every input column now
    // carried through, a same-named input would make the later
    // col("_graft_n") reference ambiguous instead of failing loudly
    Seq("chunk_id", "start_tok", "n_tokens", "chunk_text",
        "_graft_toks", "_graft_n").foreach(r =>
      require(!df.columns.contains(r),
        s"chunkRows emits a '$r' column; rename the input's '$r' first"))
    // every input column EXCEPT the consumed text rides through (the
    // id, but also source/lang/event-time — what lets the streaming
    // ingest twin watermark the chunk rows and a writer partition by
    // any carried key); chunk_text replaces the text at chunk grain
    val carried = df.columns.filterNot(_ == textCol).map(col).toSeq
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    df.where(col(textCol).isNotNull)
      .select(carried :+ toks.as("_graft_toks"): _*)
      .withColumn("_graft_n", size(col("_graft_toks")).cast("long"))
      .where(col("_graft_n") > 0)
      .select(carried ++ Seq(col("_graft_toks"), col("_graft_n"),
        // last chunk_id = ceil(max(0, n − window) / stride): windows
        // advance only while the previous one hasn't reached the end
        // of the doc, so no emitted chunk is a pure suffix of its
        // predecessor (a start of k·stride with k·stride + n_tokens ≤
        // (k−1)·stride + window adds no new text — the convention HF
        // overflow windows use). Double division is exact here: token
        // counts sit far below 2^53.
        explode(sequence(lit(0L),
          ceil(greatest(lit(0L), col("_graft_n") - window) / stride)
            .cast("long"))).as("chunk_id")): _*)
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(carried ++ Seq(col("chunk_id"), col("start_tok"),
        least(lit(window.toLong), col("_graft_n") - col("start_tok"))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("_graft_toks"),
          (col("start_tok") + 1).cast("int"), lit(window))).as("chunk_text")): _*)
  }

  /** SQL twin of #162. DuckDB's 1-based inclusive list slice
    * `toks[a : a+w-1]` equals Spark's `slice(toks, a, w)`; both
    * engines reassemble with single spaces, so chunk_text is
    * byte-identical. Engine parity of the token definition is #34's.
    */
  /** The chunk CTE chain shared by #162's oracle and every oracle that
    * composes over the passage grain (#165): yields a `chunks` CTE at
    * the [[chunkRows]] schema. Kept as ONE definition so the chunk
    * rule cannot drift between the queries that gate on it.
    */
  private val chunkRowsCteSql: String =
    s"""t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |e AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |x AS (
       |  SELECT doc_id, toks, n,
       |    unnest(generate_series(0,
       |      CAST(ceil(greatest(0, n - $ChunkWindow)
       |        / CAST($ChunkStride AS DOUBLE)) AS BIGINT))) AS chunk_id
       |  FROM e),
       |chunks AS (
       |  SELECT doc_id, chunk_id,
       |    chunk_id * $ChunkStride AS start_tok,
       |    CAST(least($ChunkWindow, n - chunk_id * $ChunkStride) AS BIGINT)
       |      AS n_tokens,
       |    array_to_string(toks[chunk_id * $ChunkStride + 1 :
       |      chunk_id * $ChunkStride + $ChunkWindow], ' ') AS chunk_text
       |  FROM x)""".stripMargin

  val qChunkPassagesSql: String =
    s"""WITH $chunkRowsCteSql
       |SELECT doc_id, chunk_id, start_tok, n_tokens, chunk_text
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin

  /** #165 — `q_chunk_dedup`: exact dedup AT THE PASSAGE GRAIN — the
    * step between #162's chunking and #163's indexing that keeps
    * verbatim-duplicated passages (copied docs, boilerplate windows)
    * from entering a retrieval index or training mix more than once
    * (duplicate passages both waste index space and let one document
    * dominate a query's top-k with identical hits). #25's content
    * rule applied per chunk: fingerprint = md5 of the SHARED
    * normalization (lower, space-collapse, trim — one definition, so
    * doc-grain and chunk-grain dedup can never disagree about what
    * "the same text" is); keeper = lowest (doc_id, chunk_id); output
    * = one row per DROPPED passage with its keeper's coordinates and
    * the group size.
    *
    * Scale: the #162 map-side explode, then ONE shuffle on the
    * fingerprint — and what shuffles is (ids + 32-byte hash) only,
    * never chunk text (column pruning drops `chunk_text` after the
    * map-side md5). Both window reads share the fp partitioning, so
    * it is one exchange total; output is bounded by the duplicate
    * count, not the corpus.
    */
  def qChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupRows(Tables.documents(spark, dir), "doc_id", "text",
      ChunkWindow, ChunkStride)
      .orderBy("doc_id", "chunk_id")

  /** The #165 core over any frame — [[chunkRows]] composed with the
    * per-chunk fingerprint window. Output columns are fixed
    * (`doc_id`/`chunk_id` keep the [[chunkRows]] id naming plus the
    * keeper coordinates and group size); the input id column lands as
    * `doc_id` whatever its name.
    */
  private[graft] def chunkDedupRows(df: DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): DataFrame = {
    val chunks = chunkRows(df, idCol, textCol, window, stride)
    val wOrd = Window.partitionBy("fp").orderBy("doc_id", "chunk_id")
    val wAll = Window.partitionBy("fp")
    chunks
      .select(col(idCol).as("doc_id"), col("chunk_id"),
        md5(Dedup.contentNormOf(col("chunk_text"))).as("fp"))
      .withColumn("keep_doc_id", first("doc_id").over(wOrd))
      .withColumn("keep_chunk_id", first("chunk_id").over(wOrd))
      .withColumn("group_size", count(lit(1)).over(wAll))
      .where(col("doc_id") =!= col("keep_doc_id") ||
        col("chunk_id") =!= col("keep_chunk_id"))
      .select("doc_id", "chunk_id", "keep_doc_id", "keep_chunk_id",
        "group_size")
  }

  /** SQL twin of #165 — the shared chunk CTE + the shared content
    * normalization, keeper elected by the same (doc_id, chunk_id)
    * window order. */
  val qChunkDedupSql: String =
    s"""WITH $chunkRowsCteSql,
       |f AS (
       |  SELECT doc_id, chunk_id,
       |    md5(${Dedup.contentNormSqlOf("chunk_text")}) AS fp
       |  FROM chunks)
       |SELECT doc_id, chunk_id, keep_doc_id, keep_chunk_id, group_size
       |FROM (
       |  SELECT doc_id, chunk_id,
       |    first_value(doc_id) OVER w AS keep_doc_id,
       |    first_value(chunk_id) OVER w AS keep_chunk_id,
       |    CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
       |  FROM f
       |  WINDOW w AS (PARTITION BY fp ORDER BY doc_id, chunk_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |WHERE doc_id <> keep_doc_id OR chunk_id <> keep_chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Top-10 word bigrams per source by DOCUMENT frequency (count desc,
    * bigram asc): corpus n-gram stats for LM data curation. Bigrams
    * come from the codegen'd word_shingles expression, which dedupes
    * within each doc — so `cnt` is the number of documents containing
    * the bigram, the df statistic both engines compute identically
    * (a multiplicity-weighted term-frequency variant would explode raw
    * sliding bigrams instead).
    */
  def qNgramStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("bigram"))
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(call("word_shingles", col("text"), lit(2))).as("bigram"))
      .groupBy("source", "bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .select("source", "rk", "bigram", "cnt")
      .orderBy("source", "rk")
  }

  val qNgramStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, source,
      |    unnest(CASE WHEN len(t) >= 2
      |      THEN list_distinct(list_transform(range(1, len(t)),
      |             i -> t[i] || ' ' || t[i+1]))
      |      ELSE CAST([] AS VARCHAR[]) END) AS bigram
      |  FROM toks),
      |cnts AS (
      |  SELECT source, bigram, count(*) AS cnt FROM bi GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, bigram, cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, bigram) AS rk
      |  FROM cnts)
      |SELECT source, CAST(rk AS BIGINT) AS rk, bigram, cnt
      |FROM ranked WHERE rk <= 10 ORDER BY source, rk""".stripMargin

  /** Minimum shared distinct shingles for a doc to count as
    * contaminated; the SQL twin embeds the same literal, and the
    * facade's `contamination` takes it as its default so the two
    * cannot drift. */
  private[graft] val ContaminationK = 5L

  /** The contamination transform shared by #58 and the facade's
    * `contamination` (same one-core-transform discipline as
    * `Etl.cdcRouted` / `Text.piiScrubbed` — the hash choice, count
    * discipline, and broadcast side cannot drift between the gated
    * query and the user-facing API).
    */
  private[graft] def contaminated(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, minOverlap: Long): DataFrame = {
    val sh = corpus
      .select(col(idCol).as("id"),
        explode(call("word_shingle_hashes", col(textCol), lit(n))).as("shingle"))
    val vocab = benchmark
      .select(explode(call("word_shingle_hashes", col(textCol), lit(n))).as("shingle"))
      .distinct()
    sh.join(broadcast(vocab), Seq("shingle"))
      // word_shingles dedupes within a doc, so count(*) IS the distinct
      // overlap count
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** The Bloom-prefiltered form of [[contaminated]] (#127) — the
    * 100 TB shape for when the benchmark VOCABULARY outgrows an exact
    * broadcast (eval suites at web scale carry 10⁸+ long shingles:
    * ~1 GB of exact 8-byte keys vs a fixed `numBits/8`-byte sketch).
    * Three stages:
    *
    *  1. BUILD: one aggregate pass over the (distinct) benchmark
    *     shingle hashes into Spark's own BloomFilterAggregate sketch —
    *     mergeable partials, result size fixed by `numBits` whatever
    *     the benchmark size. The bytes land on the driver like a
    *     k-means centroid set: bounded by construction.
    *  2. PREFILTER: `bloom_might_contain(sketch, shingle)` rides into
    *     every corpus task as a literal and drops non-benchmark
    *     shingles MAP-SIDE (codegen'd, no shuffle, no join). No false
    *     negatives by construction, so nothing an exact join would
    *     keep is lost; false positives (rate set by numBits/items)
    *     merely leak extra rows into stage 3.
    *  3. CONFIRM: the surviving sliver — benchmark-hit-rate-sized, not
    *     corpus-sized — joins the exact vocabulary (unhinted: AQE
    *     broadcasts it at gate scale, it shuffles at 100 TB) and the
    *     per-doc overlap count applies the same ≥ K verdict as #58.
    *
    * Verdicts are therefore EXACTLY #58's — the hash gate runs this
    * flavor against the same oracle — only the join volume changes.
    * An empty benchmark yields the empty verdict set (the aggregate
    * returns a NULL sketch; #58's join form agrees).
    *
    * SIZING CONSTRAINT (review r11): BloomFilterAggregate's analysis
    * check caps `estItems` at spark.sql.optimizer.runtime.bloomFilter.
    * maxNumItems (default 4M) and `numBits` at …maxNumBits (default
    * ~67M ≈ 8 MB). The 10⁸-shingle/10-bits-per-item sizing the 100 TB
    * deployment needs EXCEEDS both defaults, so a production session
    * must raise those two confs before calling; arguments above the
    * session's caps fail fast here with the dial names rather than as
    * an opaque analysis error inside the aggregate.
    */
  private[graft] def contaminatedBloom(corpus: DataFrame,
      benchmark: DataFrame, idCol: String, textCol: String, n: Int,
      minOverlap: Long, estItems: Long, numBits: Long): DataFrame = {
    val spark = corpus.sparkSession
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(estItems <= maxItems && numBits <= maxBits,
      s"bloom sketch sized estItems=$estItems/numBits=$numBits exceeds the " +
        s"session caps ($maxItems/$maxBits); raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems / .maxNumBits " +
        "on the SparkSession before sizing for a web-scale benchmark")
    val sh = corpus
      .select(col(idCol).as("id"),
        explode(call("word_shingle_hashes", col(textCol), lit(n))).as("shingle"))
    // materialized once (localCheckpoint, the connectedComponents
    // discipline): the bloom build is an eager action over this frame
    // and the confirm join reads it again after return
    val vocab = benchmark
      .select(explode(call("word_shingle_hashes", col(textCol), lit(n))).as("shingle"))
      .distinct()
      .localCheckpoint(true)
    val sketch = vocab
      .agg(call("bloom_agg", col("shingle"), lit(estItems), lit(numBits))).head()
    val pre =
      if (sketch.isNullAt(0)) sh.where(lit(false))
      else sh.where(call("bloom_might_contain",
        lit(sketch.getAs[Array[Byte]](0)), col("shingle")))
    pre.join(vocab, Seq("shingle"))
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** #127 — `q_contamination_bloom`: #58's verdicts through the
    * Bloom-prefiltered pipeline (same slices, same K, same output —
    * the driver gates it against the SAME oracle, which is the
    * equality claim). Gate-scale sketch: 2²⁰ bits (128 KiB) for 2¹⁶
    * expected shingles; production dials both with the benchmark.
    */
  def qContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    contaminatedBloom(docs.where(!isBench), docs.where(isBench),
        "doc_id", "text", n = 3, minOverlap = ContaminationK,
        estItems = 1L << 16, numBits = 1L << 20)
      .select(col("id").as("doc_id"), col("n_overlap"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** #58 — `q_contamination`: benchmark decontamination — the check a
    * training-data pipeline runs before training: which corpus
    * documents share enough word-3-gram shingles with an evaluation
    * benchmark to leak it. The benchmark here is the deterministic
    * ~1% doc_id slice (pmod 97 == 0) standing in for a real eval set;
    * the shape is what matters: the benchmark VOCABULARY is small by
    * design at any corpus scale, so it broadcasts, and the corpus side
    * is one map-side semi-join + per-doc count — no corpus-sized
    * shuffle anywhere (candidate keys are xxhash64(shingle), the same
    * 8-byte-key discipline as #26; |overlap| over hashes == over
    * strings modulo the ~2⁻⁶⁴ collision bound, and the string-exact
    * oracle would surface any collision). Output: every non-benchmark
    * doc with ≥1 overlapping shingle, its overlap count, and the
    * ≥ K contamination verdict.
    */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    contaminated(docs.where(!isBench), docs.where(isBench),
        "doc_id", "text", n = 3, minOverlap = ContaminationK)
      .select(col("id").as("doc_id"), col("n_overlap"), col("contaminated"))
      .orderBy("doc_id")
  }

  val qContaminationSql: String =
    s"""WITH ${Dedup.shingleCteSql},
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |bench AS (
      |  SELECT DISTINCT shingle FROM ex
      |  WHERE ((doc_id % 97) + 97) % 97 = 0),
      |hits AS (
      |  SELECT e.doc_id, count(*) AS n_overlap
      |  FROM ex e JOIN bench b ON e.shingle = b.shingle
      |  WHERE ((e.doc_id % 97) + 97) % 97 <> 0
      |  GROUP BY e.doc_id)
      |SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
      |  n_overlap >= $ContaminationK AS contaminated
      |FROM hits ORDER BY doc_id""".stripMargin

  /** Window width (tokens) for #140's verbatim-run contamination rule.
    * GPT-3's decontamination used 13-gram collisions; the gate corpus's
    * synthetic docs share no verbatim run past 5 tokens across the
    * benchmark boundary (measured: W=4 flags 8/8/727 docs at
    * sf0.001/0.01/0.1, W=6 flags zero anywhere), so the operator width
    * is 4 here and production dials it to the paper's 13 — the #133
    * width rationale.
    */
  private val ContamW = 4

  /** #140 — `q_contamination_ngram`: VERBATIM-window decontamination —
    * the GPT-3-style rule (Brown et al. 2020 Appendix C; Llama and
    * PaLM publish variants): a corpus doc is contaminated when it
    * shares any ≥[[ContamW]]-token verbatim run with the benchmark,
    * regardless of how small the overall shingle-set overlap is. The
    * complement of #58: #58's set-overlap (≥K distinct 3-grams) fires
    * on topical similarity, this fires only on literal quotation — a
    * doc quoting one benchmark sentence inside ten thousand original
    * tokens passes #58 yet leaks the answer string. Same benchmark
    * slice as #58 (pmod 97), same hits-only output convention.
    *
    * Scale shape: the benchmark's window vocabulary is small by
    * design at any corpus scale (it is the EVAL set), so the join
    * broadcasts at gate SF (AQE) and shuffles only the corpus's
    * 8-byte window hashes at 100 TB; window fingerprints are the #133
    * map-side `transform`+xxhash64 — no UDF, no pair grain anywhere.
    */
  def qContaminationNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    def wins(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("t"))
      .withColumn("n_windows", size(col("t")).cast("long") - ContamW + 1)
      .where(col("n_windows") >= 1)
      .select(col("doc_id"), col("n_windows"),
        explode(transform(
          sequence(lit(1), col("n_windows").cast("int")),
          i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(ContamW))))))
          .as("win"))
    val bench = wins(docs.where(isBench)).select("win").distinct()
    wins(docs.where(!isBench))
      .join(bench, "win")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_windows"), max("n_windows").as("n_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_hit_windows"),
        round(col("n_hit_windows").cast("double") / col("n_windows"), 6)
          .as("hit_frac"))
      .orderBy("doc_id")
  }

  val qContaminationNgramSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS t
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) - ${ContamW - 1} AS n_windows
       |  FROM toks WHERE len(t) >= $ContamW),
       |wins AS (
       |  SELECT doc_id, n_windows,
       |    array_to_string(t[pos0:pos0 + ${ContamW - 1}], ' ') AS win
       |  FROM (SELECT doc_id, t, n_windows,
       |          unnest(range(1, len(t) - ${ContamW - 2})) AS pos0
       |        FROM base)),
       |bench AS (
       |  SELECT DISTINCT win FROM wins WHERE ((doc_id % 97) + 97) % 97 = 0),
       |hits AS (
       |  SELECT w.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_hit_windows,
       |    max(w.n_windows) AS n_windows
       |  FROM wins w JOIN bench b ON w.win = b.win
       |  WHERE ((w.doc_id % 97) + 97) % 97 <> 0
       |  GROUP BY w.doc_id)
       |SELECT doc_id, n_windows, n_hit_windows,
       |  round(CAST(n_hit_windows AS DOUBLE) / n_windows, 6) AS hit_frac
       |FROM hits ORDER BY doc_id""".stripMargin

  /** Token budget for the #141 mixture plan — 2²⁰ at the gate SFs;
    * production passes the real training budget.
    */
  private val MixBudgetTokens = 1L << 20

  /** #141 — `q_mix_plan`: the source-mixture plan a training run is
    * configured from (the UniMax/LLaMA-style recipe: sampling weight
    * ∝ size^α with α = 1/2, damping the biggest crawls so small
    * high-quality sources are not drowned): per source, token totals,
    * the √-damped normalized weight, the planned token draw under a
    * fixed budget, and the implied epoch count (planned/available —
    * the over-sampling multiplier; >1 means that source repeats).
    *
    * Determinism is the only subtlety: α = 1/2 is computed via
    * `sqrt` — IEEE-correctly-rounded in BOTH engines, unlike `pow`,
    * whose libm implementations may differ in the last ulp — each
    * source's damped size is rounded once to 6 dp and fixed as
    * DECIMAL, the normalizer is an EXACT decimal sum (associative,
    * any partitioning — the #126 discipline), and the final ratios
    * are divisions of bit-identical doubles. Source-grain all the
    * way: one contracted aggregate, then literally 20 rows.
    */
  /** The #141 plan on any (stratum, token-count) row grain — shared by
    * the gated query and the [[graft.api.Graft.mixPlan]] facade.
    */
  /** The #141 tail over a (stratum, docs, tokens) totals frame —
    * shared by [[mixPlan]] and the streaming fold
    * ([[graft.streaming.Streams.mixPlanState]]): totals are
    * integer-ADDITIVE (the #128 histogram rule), so per-batch partials
    * summed over any boundaries feed this tail to EXACTLY the batch
    * plan — the one streaming twin with no provisional caveat at all.
    */
  private[graft] def mixPlanFromTotals(totals: DataFrame,
      stratumCol: String, budget: Long): DataFrame = {
    val byStratum = totals
      .withColumn("damped",
        round(sqrt(col("tokens").cast("double")), 6).cast("decimal(18,6)"))
      // stratum-grain (tens of rows) but consumed twice (normalizer +
      // projection): materialize once so the corpus scans once — the
      // unigramModel localCheckpoint discipline, ContextCleaner-reclaimed
      .localCheckpoint(true)
    byStratum
      .crossJoin(broadcast(byStratum.agg(sum("damped").as("dtot"))))
      .select(col(stratumCol), col("docs"), col("tokens"),
        round(col("damped").cast("double") / col("dtot").cast("double"), 6)
          .as("weight"))
      .withColumn("planned_tokens",
        floor(lit(budget.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs",
        when(col("tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("planned_tokens").cast("double") / col("tokens"), 6)))
  }

  private[graft] def mixPlan(df: DataFrame, stratumCol: String,
      tokensCol: String, budget: Long): DataFrame =
    mixPlanFromTotals(
      df.groupBy(stratumCol)
        .agg(count(lit(1)).as("docs"), sum(tokensCol).as("tokens")),
      stratumCol, budget)

  /** The #204 gate temperature: α = ¼, chosen because x^¼ =
    * sqrt(sqrt(x)) — a composition of IEEE-CORRECTLY-ROUNDED ops, so
    * the damped sizes are bit-identical in both engines (libm `pow`
    * is not correctly rounded and may differ in the last ulp; the
    * published α = 0.3 is the facade's business, not the gate's).
    */
  private[graft] val MixAlphaGate = 0.25

  /** The α-general #204 tail over a (stratum, docs, tokens) totals
    * frame: damped size = tokens^α. α ∈ {0.25, 0.5, 1.0} route
    * through exactly-reproducible forms (sqrt compositions /
    * identity); any other α uses `pow` — deterministic per engine,
    * but a cross-engine oracle should stick to the exact dials.
    */
  private[graft] def mixAlphaFromTotals(totals: DataFrame,
      stratumCol: String, alpha: Double, budget: Long): DataFrame = {
    val t = col("tokens").cast("double")
    val dampedExpr =
      if (alpha == 0.25) sqrt(sqrt(t))
      else if (alpha == 0.5) sqrt(t)
      else if (alpha == 1.0) t
      else pow(t, lit(alpha))
    // decimal(38,6), NOT (18,6): with α = 1 the damped size IS the
    // token count, and a source above ~1e12 tokens (realistic at the
    // 100 TB grain) would overflow an (18,6) cast to NULL under
    // non-ANSI mode — silently nulling dtot and every weight
    // downstream (r17 ADVICE). 32 integer digits cover any corpus;
    // sums stay exact either way.
    val byStratum = totals
      .withColumn("damped", round(dampedExpr, 6).cast("decimal(38,6)"))
      .localCheckpoint(true)
    byStratum
      .crossJoin(broadcast(byStratum.agg(sum("damped").as("dtot"),
        sum("tokens").as("ttot"))))
      .select(col(stratumCol), col("docs"), col("tokens"),
        round(col("tokens").cast("double") / col("ttot").cast("double"), 6)
          .as("nat_share"),
        round(col("damped").cast("double") / col("dtot").cast("double"), 6)
          .as("weight"))
      .withColumn("planned_tokens",
        floor(lit(budget.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs",
        when(col("tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("planned_tokens").cast("double") / col("tokens"), 6)))
      // nat_share can ROUND to exactly 0 for a vanishingly small
      // source (tokens ≥ 1 but < totalTokens/2e6): guard it too, or
      // boost divides by the rounded zero
      .withColumn("boost",
        when(col("tokens") === 0 || col("nat_share") === 0.0,
          lit(null).cast("double"))
          .otherwise(round(col("weight") / col("nat_share"), 6)))
  }

  private[graft] def mixAlpha(df: DataFrame, stratumCol: String,
      tokensCol: String, alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha — 1 is natural sampling, " +
        "smaller flattens toward uniform")
    mixAlphaFromTotals(
      df.groupBy(stratumCol)
        .agg(count(lit(1)).as("docs"), sum(tokensCol).as("tokens")),
      stratumCol, alpha, budget)
  }

  /** #204 — `q_mix_alpha`: TEMPERATURE-BASED source sampling (the
    * multilingual-LM recipe — mBERT's exponent-smoothed sampling,
    * XLM-R/mT5's α ≈ 0.3: p_i ∝ n_i^α with α < 1 flattens the source
    * distribution, upsampling small high-quality sources without
    * drowning them) — the α-GENERAL form of #141's fixed α = ½ plan.
    * Per source: token totals, the NATURAL share, the α-damped
    * sampling weight, the planned draw under the budget, the implied
    * epochs, and `boost` = weight / nat_share — the up/down-sampling
    * multiplier a data card reports (boost > 1 ⟺ the source is
    * smaller than the corpus average under the temperature).
    *
    * Gate dial α = ¼ ([[MixAlphaGate]]): computed as sqrt∘sqrt, a
    * correctly-rounded-op composition that is bit-identical
    * cross-engine where libm `pow` is not. Fixed-point discipline is
    * #141's verbatim: damped sizes round once to 6 dp and fix as
    * DECIMAL, normalizers are exact sums (decimal for damped, long
    * for tokens), every ratio is one division of bit-identical
    * values. Scale: one source-grain contraction, then ~|sources|
    * rows — trivially flat at any corpus size.
    */
  def qMixAlpha(spark: SparkSession, dir: String): DataFrame =
    mixAlpha(
      Tables.documents(spark, dir)
        .select(col("source"), Text.wsTokenCount.as("n_tokens")),
      "source", "n_tokens", MixAlphaGate, MixBudgetTokens)
      .orderBy("source")

  val qMixAlphaSql: String =
    s"""WITH t AS (
       |  SELECT source, ${Text.wsTokenCountSql} AS n_tokens FROM documents),
       |s AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |    CAST(round(sqrt(sqrt(CAST(sum(n_tokens) AS DOUBLE))), 6) AS DECIMAL(18,6)) AS damped
       |  FROM t GROUP BY source),
       |w AS (
       |  SELECT source, docs, tokens,
       |    round(CAST(tokens AS DOUBLE) / CAST((SELECT sum(tokens) FROM s) AS DOUBLE), 6) AS nat_share,
       |    round(CAST(damped AS DOUBLE) / CAST((SELECT sum(damped) FROM s) AS DOUBLE), 6) AS weight
       |  FROM s)
       |SELECT source, docs, tokens, nat_share, weight,
       |  CAST(floor($MixBudgetTokens.0 * weight) AS BIGINT) AS planned_tokens,
       |  CASE WHEN tokens = 0 THEN NULL
       |    ELSE round(CAST(floor($MixBudgetTokens.0 * weight) AS DOUBLE) / tokens, 6)
       |  END AS epochs,
       |  CASE WHEN tokens = 0 OR nat_share = 0 THEN NULL
       |    ELSE round(weight / nat_share, 6)
       |  END AS boost
       |FROM w ORDER BY source""".stripMargin

  def qMixPlan(spark: SparkSession, dir: String): DataFrame =
    mixPlan(
      Tables.documents(spark, dir)
        .select(col("source"), Text.wsTokenCount.as("n_tokens")),
      "source", "n_tokens", MixBudgetTokens)
      .orderBy("source")

  val qMixPlanSql: String =
    s"""WITH t AS (
       |  SELECT source, ${Text.wsTokenCountSql} AS n_tokens FROM documents),
       |s AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |    CAST(round(sqrt(CAST(sum(n_tokens) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS damped
       |  FROM t GROUP BY source),
       |w AS (
       |  SELECT source, docs, tokens,
       |    round(CAST(damped AS DOUBLE) / CAST((SELECT sum(damped) FROM s) AS DOUBLE), 6) AS weight
       |  FROM s)
       |SELECT source, docs, tokens, weight,
       |  CAST(floor($MixBudgetTokens.0 * weight) AS BIGINT) AS planned_tokens,
       |  CASE WHEN tokens = 0 THEN NULL
       |    ELSE round(CAST(floor($MixBudgetTokens.0 * weight) AS DOUBLE) / tokens, 6)
       |  END AS epochs
       |FROM w ORDER BY source""".stripMargin

  /** #146's dials: the hashed-feature space (DSIR's hashing trick —
    * collisions are part of the method, not a defect) and the target
    * slice the importance weights steer toward. At the gate the
    * target is the `lang = 'en'` slice (the corpus's majority class,
    * so both models are well-populated); a production run points this
    * at its curated seed set.
    */
  private[graft] val DsirBuckets = 256
  private[graft] val DsirTargetLang = "en"

  /** Hashed-unigram feature bucket: two md5 hex digits → 0..255. md5
    * is the one string hash both engines compute identically (the #25
    * fingerprint precedent); the oracle reconstructs the integer with
    * an instr() digit table since DuckDB has no hex conv().
    */
  private def dsirBucket(w: Column): Column =
    conv(substring(md5(w), 7, 2), 16, 10).cast("long")
  private val dsirBucketSql: String =
    "((instr('0123456789abcdef', substr(md5(word), 7, 1)) - 1) * 16" +
      " + (instr('0123456789abcdef', substr(md5(word), 8, 1)) - 1))"

  /** #146 — `q_dsir_weights`: Data Selection via Importance Resampling
    * (Xie et al. 2023) — the published recipe for steering a raw
    * corpus toward a target distribution without a trained classifier:
    * fit two bag-of-hashed-unigram generative models (target slice vs
    * the whole corpus), score every document with its total
    * log-likelihood RATIO, and keep/resample by that weight. Docs
    * that look more like the target than like the average corpus get
    * `llr > 0` and are `selected`; the threshold-at-zero decision is
    * map-side (no global sort — a production run resamples by weight,
    * it never ranks 100 TB in one task).
    *
    * Determinism is the #126 discipline end-to-end: each bucket's two
    * log-probs (add-1 smoothing over the [[DsirBuckets]]-cell feature
    * space) are rounded ONCE to 6 dp and fixed as DECIMAL(18,6); the
    * per-doc weight is tf·Δlp summed in exact decimal (associative —
    * any partitioning), compared against zero in DECIMAL, and cast
    * once to double for the report — no division, no re-rounding.
    * Hashed features mean NO out-of-vocabulary tokens: every
    * word has a bucket, so `n_tokens` is the #34 whitespace count.
    *
    * Scale: one corpus pass fits BOTH models (a single 256-row
    * aggregate carrying (raw, target) counts per bucket); the model
    * broadcasts; the (doc, bucket) tf aggregate is the only
    * corpus-scale exchange beyond it. Token-less docs keep the
    * dirty-record rule: n_tokens = 0, NULL llr, selected = false.
    */
  /** The frozen half of #146: the 256-row (bucket, Δlog-prob) model —
    * ONE corpus pass fits BOTH distributions (a single aggregate
    * carries (raw, target) counts per bucket). Persist or snapshot it
    * to score later ingest against a FROZEN selection model — the
    * [[graft.streaming.Streams.dsirSink]] deployment, the #130 rule.
    */
  private[graft] def dsirModel(df: DataFrame, textCol: String,
      isTarget: Column): DataFrame = {
    val words = df
      .select(isTarget.as("_tgt"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("b", dsirBucket(col("word")))
    val cnts = words.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = cnts.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    def lp(cnt: Column, total: Column): Column =
      round(log((cnt + lit(1)).cast("double") /
        (total + lit(DsirBuckets)).cast("double")), 6).cast("decimal(18,6)")
    cnts.crossJoin(broadcast(totals))
      .select(col("b"),
        (lp(col("ct"), col("tt")) - lp(col("cr"), col("tr"))).as("dlp"))
  }

  /** The stateless half of #146: score any frame against a (possibly
    * FROZEN) [[dsirModel]]. A row's weight depends only on its own
    * text and the model — batch-boundary-proof, which is what the
    * streaming twin leans on. Out-of-model buckets (possible only
    * when the model was fit elsewhere) drop from both mass and count,
    * the [[graft.operators.Text.scoreQualityLm]] convention.
    */
  private[graft] def dsirScore(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val words = df
      .select(col(idCol).as("_did"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("b", dsirBucket(col("word")))
    val perDoc = words.groupBy("_did", "b").agg(count(lit(1)).as("tf"))
      .join(broadcast(model), "b")
      .groupBy("_did").agg(
        sum("tf").as("n_toks"),
        sum(col("dlp") * col("tf")).as("mass"))
    // The TOTAL log-ratio (the paper's importance weight), not a
    // per-token mean: the selection decision compares the EXACT
    // decimal against zero (no double ever enters the verdict), and
    // the reported weight is one decimal→double cast — no division,
    // no re-rounding, so both engines emit bit-identical values (a
    // rounded near-zero mean sat exactly on a 5e-7 boundary at sf0.1
    // and flipped between the engines' round() implementations).
    df.select(col(idCol).as("_did")).join(perDoc, Seq("_did"), "left")
      .select(col("_did").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_tokens"),
        col("mass").cast("double").as("llr"),
        coalesce(col("mass") > 0, lit(false)).as("selected"))
  }

  /** The #146 scoring on any frame with an id + text column, against
    * a caller-chosen target predicate (the gate's is
    * `lang = '[[DsirTargetLang]]'`): fit-then-score on the same frame
    * — shared by the gated query and [[graft.api.Graft.dsirWeights]].
    */
  private[graft] def dsirWeights(df: DataFrame, idCol: String,
      textCol: String, isTarget: Column): DataFrame =
    dsirScore(df, dsirModel(df, textCol, isTarget), idCol, textCol)

  def qDsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir), "doc_id", "text",
      col("lang") === DsirTargetLang)
      .orderBy("doc_id")

  val qDsirWeightsSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, lang, $dsirBucketSql AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0),
      |c AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
      |    CAST(count(*) FILTER (WHERE lang = '$DsirTargetLang') AS BIGINT) AS ct
      |  FROM w GROUP BY 1),
      |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
      |               CAST(sum(ct) AS BIGINT) AS tt FROM c),
      |m AS (
      |  SELECT b,
      |    CAST(round(ln((ct + 1.0) / (tt + $DsirBuckets)), 6) AS DECIMAL(18,6))
      |  - CAST(round(ln((cr + 1.0) / (tr + $DsirBuckets)), 6) AS DECIMAL(18,6)) AS dlp
      |  FROM c CROSS JOIN tot),
      |tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf
      |       FROM w GROUP BY 1, 2),
      |per AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
      |    sum(dlp * tf) AS mass
      |  FROM tf JOIN m USING (b) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(per.n_toks, 0) AS n_tokens,
      |  CAST(mass AS DOUBLE) AS llr,
      |  COALESCE(mass > 0, false) AS selected
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** #52 — `q_dup_rate_by_source`: the curation health metric every
    * dedup run reports — per source: docs, exact-duplicate docs
    * (non-canonical members of a fingerprint group, same identity as
    * #25), and the dup rate. Composes the #25 fingerprint grouping
    * with one count aggregate; the rate is an exact integer ratio cast
    * once to double (deterministic under any partitioning).
    */
  def qDupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), Dedup.contentFp.as("fp"))
      .withColumn("is_dup",
        (col("doc_id") =!= min("doc_id").over(w)).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum("is_dup").as("dup_docs"))
      .withColumn("dup_rate",
        col("dup_docs").cast("double") / col("docs"))
      .orderBy("source")
  }

  val qDupRateBySourceSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |    ${Dedup.contentFpSql} AS fp
      |  FROM documents),
      |flagged AS (
      |  SELECT source,
      |    CAST(doc_id <> min(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS is_dup
      |  FROM t)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
      |  CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate
      |FROM flagged GROUP BY source ORDER BY source""".stripMargin

  /** #145 — `q_source_overlap`: the cross-source duplication MATRIX —
    * for every ordered source pair (a, b), how many of a's documents
    * have an exact content twin (the #25 fingerprint identity) in b,
    * and what fraction of a that is. #52 reports each source's dup
    * rate against the WHOLE corpus; this factors that number into
    * where the copies come from — the readout that decides which
    * crawl to drop when two snapshots overlap (a RefinedWeb-style
    * multi-dump curation run reports exactly this before picking dump
    * precedence). The diagonal (a, a) counts docs with a twin INSIDE
    * their own source and is ALWAYS emitted (it is the per-source
    * self-dup readout a dashboard plots even when zero); off-diagonal
    * cells are hits-only (at 100 TB the matrix is sources²,
    * overwhelmingly zeros — the #58 convention).
    *
    * Scale shape: ONE corpus exchange — fingerprints contract to fp
    * grain (`collect_list` of sources per fp; group sizes are dup-
    * cluster sizes, bounded by the #25 contract, and the per-fp pair
    * expansion is (distinct sources in the group)², not docs²), pairs
    * explode map-side from that contracted grain, and the pair
    * aggregate + per-source totals are source²-sized (tiny at any
    * scale; totals broadcast). The corpus is never joined to itself
    * at doc grain. The oracle computes the same contract as a
    * fp-grain SELF-JOIN — the relational shape this operator
    * deliberately avoids.
    */
  /** The #145 matrix on any frame with a text + stratum column —
    * shared by the gated query and [[graft.api.Graft.sourceOverlap]].
    */
  /** The #145 matrix from a per-(source, fingerprint) COUNT grain —
    * the contraction [[sourceOverlap]] produces from raw text, and
    * exactly the state [[graft.streaming.Streams.domainStatsSink]]
    * already stores, which is how the streaming sweep gets the matrix
    * for free. Input columns: `source`, `fp`, `c` (> 0).
    */
  private[graft] def sourceOverlapFromCounts(counts: DataFrame): DataFrame = {
    // Contract to fp grain: per fp, the (source, count) roster — list
    // length bounded by |sources|, NOT by dup-cluster size (a viral
    // doc duplicated millions of times still contributes one entry
    // per source). Then pairs expand map-side: every one of a's ca
    // members has a twin in b if b shares the fp (a ≠ b), and a twin
    // within a itself iff ca >= 2. Diagonal structs survive even at
    // zero mass — every source owns ≥1 fingerprint, so the (a, a)
    // cell aggregates into existence without a second pass.
    // a NULL fingerprint (null text — a failed fetch) carries no
    // content identity: it must not pair "twins" (groupBy would
    // otherwise gather every null-text doc into one pseudo-cluster —
    // r19 nasty corpus, while the oracle's fp self-join drops null
    // keys). Null-fp docs still count in the totals denominator.
    val perFp = counts
      .where(col("fp").isNotNull)
      .groupBy("fp")
      .agg(collect_list(struct(col("source"), col("c"))).as("ss"))
    val pairs = perFp
      .select(explode(flatten(transform(col("ss"), a =>
        filter(
          transform(col("ss"), b =>
            struct(a.getField("source").as("source_a"),
              b.getField("source").as("source_b"),
              when(a.getField("source") === b.getField("source"),
                when(a.getField("c") >= 2L, a.getField("c"))
                  .otherwise(lit(0L)))
                .otherwise(a.getField("c")).as("m"))),
          p => p.getField("m") > 0 ||
            p.getField("source_a") === p.getField("source_b"))))).as("p"))
      .select(col("p.source_a"), col("p.source_b"), col("p.m"))
      .groupBy("source_a", "source_b").agg(sum("m").as("n_docs"))
    val totals = counts.groupBy(col("source").as("source_a"))
      .agg(sum("c").as("t"))
    pairs.join(broadcast(totals), "source_a")
      .select(col("source_a"), col("source_b"), col("n_docs"),
        (col("n_docs").cast("double") / col("t")).as("overlap_frac"))
      .orderBy("source_a", "source_b")
  }

  private[graft] def sourceOverlap(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    sourceOverlapFromCounts(
      df.select(col(sourceCol).as("source"),
          col(textCol).as("text"))
        .select(col("source"), Dedup.contentFp.as("fp"))
        .groupBy("source", "fp").agg(count(lit(1)).cast("long").as("c")))

  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir), "text", "source")

  val qSourceOverlapSql: String =
    s"""WITH fs AS (
      |  SELECT ${Dedup.contentFpSql} AS fp, source,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM fs GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(sum(CASE WHEN a.source = b.source
      |          THEN CASE WHEN a.c >= 2 THEN a.c ELSE 0 END
      |          ELSE a.c END) AS BIGINT) AS n_docs
      |  FROM fs a JOIN fs b ON a.fp = b.fp
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_docs,
      |  CAST(n_docs AS DOUBLE) / t AS overlap_frac
      |FROM pairs JOIN tot ON pairs.source_a = tot.source
      |WHERE source_a = source_b OR n_docs > 0
      |ORDER BY source_a, source_b""".stripMargin

  /** Blocked domains for #135 — the broadcastable drop-list a real
    * curation run maintains (spam/SEO-farm/adult domains in CCNet and
    * RefinedWeb). Deterministic literals here; production swaps in a
    * million-row frame, and the join shape below is built for that.
    */
  private[graft] val DomainBlocklist = Seq("src4", "src11", "src17")
  private val DomainBlocklistSql = DomainBlocklist.map(d => s"'$d'").mkString(", ")

  /** Quality gate for #135's pass-rate column: the per-row
    * [[Text.withQuality]] score thresholded — counting docs past a
    * gate keeps the rollup integer-exact (an avg over per-row doubles
    * would be partition-order-dependent at the last ulp).
    */
  private[graft] val DomainQualityTau = 0.5

  /** #135 — `q_domain_stats`: the per-domain curation dashboard
    * (CCNet/RefinedWeb report corpus composition at registrable-domain
    * grain before anything trains): per domain, document and token
    * volume, exact-dup share, and quality-gate pass rate — AFTER
    * dropping blocklisted domains. The documents table's `source`
    * column is the provenance/domain key (a web corpus would fill it
    * with the URL's registrable domain at ingest).
    *
    * Scale shape: the blocklist is a broadcast LEFT ANTI join — the
    * drop rides map-side into every scan task and prunes before any
    * shuffle, which is the point: at 100 TB the blocklist (millions of
    * domains, still MBs) broadcasts while the corpus never moves for
    * it. Then one fingerprint window for dup flags (the #25/#52
    * content-identity definition) and one contracted-grain rollup on
    * the domain. Quality is [[Text.withQuality]]'s map-side score; all
    * aggregates are integer counts, ratios derived at the end.
    */
  def qDomainStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blocklist = DomainBlocklist.toDF("source")
    val docs = Tables.documents(spark, dir)
      .join(broadcast(blocklist), Seq("source"), "left_anti")
    val w = Window.partitionBy("fp")
    Text.withQuality(docs)
      .withColumn("fp", Dedup.contentFp)
      .withColumn("is_dup",
        (col("doc_id") =!= min("doc_id").over(w)).cast("long"))
      .groupBy(col("source").as("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("is_dup").as("dup_docs"),
        // when/otherwise, not a bare cast-sum: an all-null-score group
        // (every text null) must count 0 passes like the oracle's
        // CASE, not sum nulls to NULL (r19 nasty corpus)
        sum(when(col("quality_score") > DomainQualityTau, 1L)
          .otherwise(0L)).as("quality_pass"))
      .withColumn("dup_rate", col("dup_docs").cast("double") / col("n_docs"))
      .withColumn("quality_pass_rate",
        col("quality_pass").cast("double") / col("n_docs"))
      .orderBy("domain")
  }

  val qDomainStatsSql: String =
    // `source IS NULL OR ...`: a NULL source is NOT blocklisted — the
    // Spark side's left_anti join keeps null keys (null never equals a
    // blocklist entry), while bare SQL `NOT IN` evaluates NULL on a
    // null source and silently drops the whole group (r19: the
    // null-source nasty corpus caught exactly this divergence)
    s"""WITH ${Text.qualityCtesSql(
         s"documents WHERE (source IS NULL OR source NOT IN ($DomainBlocklistSql))")},
       |f AS (
       |  SELECT doc_id, source, n_tokens, quality_score,
       |    ${Dedup.contentFpSql} AS fp
       |  FROM q),
       |d AS (
       |  SELECT source, n_tokens, quality_score,
       |    CAST(doc_id <> min(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS is_dup
       |  FROM f)
       |SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(is_dup) AS BIGINT) AS dup_docs,
       |  CAST(sum(CASE WHEN quality_score > $DomainQualityTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS quality_pass,
       |  CAST(sum(is_dup) AS DOUBLE) / count(*) AS dup_rate,
       |  CAST(sum(CASE WHEN quality_score > $DomainQualityTau THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS quality_pass_rate
       |FROM d GROUP BY source ORDER BY domain""".stripMargin

  /** #53 — `q_length_histogram`: document-length distribution per
    * source in power-of-two buckets (bucket = bit length of the token
    * count = floor(log2(n)) + 1; empty docs land in bucket 0) — the
    * quick-look histogram curation dashboards plot. The bit length
    * comes from `length(bin(n))`, INTEGER-exact in both engines — a
    * floating `floor(log2(n))` can land on either side of an exact
    * power of two depending on the engine's log implementation.
    */
  def qLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), Text.wsTokenCount.as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 0, 0L)
          .otherwise(length(bin(col("n_tokens"))).cast("long")))
      .groupBy("source", "bucket")
      .agg(
        count(lit(1)).as("docs"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .orderBy("source", "bucket")

  val qLengthHistogramSql: String =
    s"""WITH t AS (
      |  SELECT source,
      |    ${Text.wsTokenCountSql} AS n_tokens
      |  FROM documents),
      |b AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN n_tokens <= 0 THEN 0
      |         ELSE length(bin(n_tokens)) END AS bucket
      |  FROM t)
      |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS docs,
      |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
      |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  /** #62 — `q_token_quantiles`: per-source token-length quantiles
    * (p25/p50/p75/p90) — the distribution summary a curation dashboard
    * reports next to #53's histogram. EXACT percentiles via Spark's
    * `percentile` aggregate, which linearly interpolates at rank
    * p·(n−1) exactly as DuckDB's `quantile_cont` — integer inputs, one
    * multiply-add per quantile, bit-identical across engines.
    *
    * Scale note: exact percentile buffers each group's values — fine
    * for bounded groups (sources), the skew/OOM shape if a group
    * reaches billions of rows. The 100 TB path is
    * [[qTokenQuantilesApprox]]: `approx_percentile` (a mergeable
    * KLL-style sketch, map-side combinable, bounded memory at any
    * cardinality) — the same exact/approx pairing as #11/#40.
    */
  def qTokenQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), Text.wsTokenCount.as("n_tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"))
      .select(col("source"), col("docs"),
        col("q").getItem(0).as("p25"), col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p75"), col("q").getItem(3).as("p90"))
      .orderBy("source")

  val qTokenQuantilesSql: String =
    s"""WITH t AS (
      |  SELECT source, ${Text.wsTokenCountSql} AS n_tokens
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  quantile_cont(n_tokens, 0.25) AS p25,
      |  quantile_cont(n_tokens, 0.50) AS p50,
      |  quantile_cont(n_tokens, 0.75) AS p75,
      |  quantile_cont(n_tokens, 0.90) AS p90
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** #96 — `q_outlier_docs`: per-source LENGTH-OUTLIER flagging — docs
    * whose token count falls outside their source's [p05, p95] band
    * (the standard too-short/too-long curation cut, computed per
    * source because a code corpus's p95 is a chat corpus's p5).
    * CACHING CONTRACT: persists the tokenized corpus for the two
    * consuming branches and relies on the gate harness clearing the
    * cache after each query; long-lived callers should use the facade
    * [[graft.api.Graft.outliers]] (which persists nothing) or
    * `clearCache()` afterwards. The
    * per-source bounds frame is tiny (one row per source) and
    * BROADCASTS back, so the corpus side is one scan + a map-side
    * band test — the thresholds never force a corpus-keyed shuffle.
    * Token counts are integers and the interpolated bounds are the
    * same doubles in both engines (#62 pins `percentile` ==
    * `quantile_cont`), so the strict comparisons cannot straddle
    * engines. Exact percentile buffers each source's counts in one
    * task — the gate flavor; at 100 TB swap `approx_percentile` into
    * the bounds frame (the #62/#63 pairing) and the band test is
    * unchanged.
    */
  def qOutlierDocs(spark: SparkSession, dir: String): DataFrame = {
    // consumed twice (bounds agg + band test) — cached so the corpus
    // is tokenized once, not once per branch
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), Text.wsTokenCount.as("n_tokens"))
      .persist()
    val bounds = toks.groupBy("source")
      .agg(expr("percentile(n_tokens, array(0.05D, 0.95D))").as("q"))
      .select(col("source").as("b_source"),
        col("q").getItem(0).as("lo"), col("q").getItem(1).as("hi"))
    toks.join(broadcast(bounds), col("source") === col("b_source"))
      .where(col("n_tokens") < col("lo") || col("n_tokens") > col("hi"))
      .select("doc_id", "source", "n_tokens", "lo", "hi")
      .orderBy("doc_id")
  }

  val qOutlierDocsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${Text.wsTokenCountSql} AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT source, quantile_cont(n_tokens, 0.05) AS lo,
       |    quantile_cont(n_tokens, 0.95) AS hi
       |  FROM t GROUP BY source)
       |SELECT doc_id, t.source, n_tokens, lo, hi
       |FROM t JOIN b ON t.source = b.source
       |WHERE n_tokens < lo OR n_tokens > hi
       |ORDER BY doc_id""".stripMargin

  /** #98 — `q_quality_dup_calibration`: does low quality predict
    * duplication? Docs bucket into quality-score DECILES (thresholds =
    * the corpus's own p10..p90, so the buckets are equal-population by
    * construction) and each decile reports its exact-dup rate — the
    * calibration readout that justifies (or kills) a quality cutoff
    * before a curation run commits to one. CACHING CONTRACT: persists
    * the scored+flagged corpus for the threshold/decile branches and
    * relies on the gate harness clearing the cache after each query;
    * long-lived callers should `clearCache()` afterwards.
    * Composes the SHARED stage
    * definitions: #33's quality score, #25's fingerprint-dup rule —
    * so this analytic cannot drift from the gated operators it
    * explains. Shape: one fp window (the dup flag), one 9-value
    * percentile aggregate whose 1-row frame BROADCASTS back, decile
    * assignment as a map-side 9-element array scan, final 10-group
    * aggregate. The percentile buffers scores in one task — the gate
    * flavor; at 100 TB swap `approx_percentile` (the #62/#63 pairing),
    * assignment unchanged.
    */
  def qQualityDupCalibration(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    val flagged = Text.withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality_score"), Dedup.contentFp.as("fp"))
      .withColumn("is_dup",
        (col("doc_id") =!= min("doc_id").over(w)).cast("long"))
      // empty/whitespace-only docs carry a NULL score (no quality
      // verdict exists for them — they are length-filter material, not
      // decile material); excluded explicitly in BOTH engines rather
      // than letting null-comparison semantics park them in decile 1
      .where(col("quality_score").isNotNull)
      // consumed twice (threshold agg + decile side) — cached so the
      // scan + score + fp-window subtree runs once, not once per
      // branch (the shingleSets precedent; Bench clears cache between
      // queries)
      .persist()
    val th = flagged.agg(expr(
      "percentile(quality_score, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))").as("q"))
    flagged.crossJoin(broadcast(th))
      .withColumn("decile",
        (lit(1) + size(filter(col("q"), t => col("quality_score") > t))).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("docs"), sum("is_dup").as("dup_docs"))
      .withColumn("dup_rate", col("dup_docs").cast("double") / col("docs"))
      .orderBy("decile")
  }

  val qQualityDupCalibrationSql: String =
    s"""WITH s0 AS (
       |  SELECT t.doc_id, q.quality_score,
       |    CAST(t.doc_id <> min(t.doc_id) OVER (PARTITION BY fp) AS BIGINT) AS is_dup
       |  FROM (SELECT doc_id, ${Dedup.contentFpSql} AS fp FROM documents) t
       |  JOIN (${Text.qTextQualitySql}) q ON t.doc_id = q.doc_id),
       |s AS (SELECT * FROM s0 WHERE quality_score IS NOT NULL),
       |th AS (
       |  SELECT quantile_cont(quality_score,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM s)
       |SELECT CAST(1 + len(list_filter(q, t -> quality_score > t)) AS BIGINT) AS decile,
       |  CAST(COUNT(*) AS BIGINT) AS docs,
       |  CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
       |  CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate
       |FROM s, th GROUP BY decile ORDER BY decile""".stripMargin

  /** The ONE approx_percentile aggregate both #63 forms derive from —
    * `(source, docs, q: array)` — so the estimate-serving readout and
    * the banded gate can never drift onto different sketch dials
    * (post-r18-review: the gate previously rebuilt this subplan
    * inline, leaving the Est form an unused divergence risk).
    */
  private def tokenQuantilesEstArr(toks: DataFrame): DataFrame =
    toks.groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        expr("approx_percentile(n_tokens, array(0.25D, 0.5D, 0.75D, 0.9D), 10000)")
          .as("q"))

  /** The estimate-serving form of #63: `approx_percentile` keeps a
    * bounded mergeable summary per group — map-side partials combine
    * like any algebraic aggregate, memory is O(accuracy), not
    * O(group size) — what replaces #62 when a group no longer fits
    * one task.
    */
  def tokenQuantilesApproxEst(spark: SparkSession, dir: String): DataFrame =
    tokenQuantilesEstArr(
      Tables.documents(spark, dir)
        .select(col("source"), Text.wsTokenCount.as("n_tokens")))
      .select(col("source"), col("docs"),
        col("q").getItem(0).as("p25"), col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p75"), col("q").getItem(3).as("p90"))
      .orderBy("source")

  /** #63 — `q_token_quantiles_approx`: the BOUND-CHECKED gate over
    * the sketch flavor of #62 (r17 verdict item 2 — previously
    * rows-only: sketch quantiles are implementation-specific, no
    * cross-engine oracle). Per (source, percentile p) the gate checks
    * the RANK-ERROR contract that defines a quantile sketch — the
    * estimate e must be a valid p-quantile element up to tolerance ε:
    * `count(x < e)/n ≤ p + ε` and `count(x ≤ e)/n ≥ p − ε` (ε = 0.02;
    * accuracy 10000 guarantees 10⁻⁴ rank error, so the slack only
    * absorbs the discrete-rank convention at tiny groups). Emits the
    * EXACT #62 readout (docs + interpolated percentiles) plus the
    * four flags; the oracle asserts literal TRUE per flag, so the
    * hash gate FAILS on any group whose estimate leaves its rank
    * band. One extra source-keyed pass over the token frame with the
    * ~|sources|-row estimate frame broadcast — flat at any scale.
    */
  def qTokenQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), Text.wsTokenCount.as("n_tokens"))
    val est = tokenQuantilesEstArr(toks)
      .select(col("source").as("_graft_src"), col("q"))
    val ps = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75", 0.9 -> "90")
    val eps = 0.02
    val aggs = expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D, 0.9D))")
      .as("pq") +: count(col("n_tokens")).as("vals") +:
      ps.zipWithIndex.flatMap { case ((_, tag), i) => Seq(
        sum(when(col("n_tokens") < col("q").getItem(i), 1L)
          .otherwise(0L)).as(s"lt$tag"),
        sum(when(col("n_tokens") <= col("q").getItem(i), 1L)
          .otherwise(0L)).as(s"le$tag"))
      }
    // NULL-SAFE join: a NULL-source group exists on both engines
    // (SQL GROUP BY keeps the null group), and a plain equi-join
    // would silently drop its rows here while the DuckDB oracle kept
    // the group — a hash mismatch on legal dirty data (r18 review)
    toks.join(broadcast(est), col("source") <=> col("_graft_src"))
      .drop("_graft_src")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), aggs: _*)
      .select(col("source") +: col("docs") +:
        (ps.zipWithIndex.map { case ((_, tag), i) =>
          col("pq").getItem(i).as(s"p$tag") } ++
        ps.map { case (p, tag) =>
          // rank contract over the NON-NULL count: percentile and
          // approx_percentile both EXCLUDE null measures from the
          // rank order, so a null-text row may count in `docs` but
          // must not deflate the band ratios (r19: the null-source
          // nasty corpus flipped these flags on a group carrying one
          // null-token row). A source with NO non-null measure has no
          // estimate to check — the contract holds vacuously (TRUE on
          // both engines; 0/0 would read NaN → a false hash-fail on
          // legal all-null-text sources, r19 review)
          when(col("vals") === 0, lit(true)).otherwise(
            col(s"lt$tag").cast("double") / col("vals") <= lit(p + eps) &&
            col(s"le$tag").cast("double") / col("vals") >= lit(p - eps))
            .as(s"p${tag}_ok") }): _*)
      .orderBy("source")
  }

  /** #63's oracle: the exact #62 readout plus literal TRUE rank-band
    * flags — an estimate violating its band flips the Spark-side flag
    * and the hash gate fails on that source's row.
    */
  val qTokenQuantilesApproxSql: String =
    s"""WITH t AS (
      |  SELECT source, ${Text.wsTokenCountSql} AS n_tokens
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  quantile_cont(n_tokens, 0.25) AS p25,
      |  quantile_cont(n_tokens, 0.50) AS p50,
      |  quantile_cont(n_tokens, 0.75) AS p75,
      |  quantile_cont(n_tokens, 0.90) AS p90,
      |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p90_ok
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** The #62 readout re-derived from an ADDITIVE token-count
    * HISTOGRAM `(source, n_tokens, n)` — the tail the streaming fold
    * ([[graft.streaming.Streams.tokenQuantilesState]]) applies to its
    * summed per-batch partials. Token counts are small integers, so
    * the exact distribution is a COUNTABLE histogram (≤ |sources| ×
    * |distinct counts| rows — thousands, not corpus-sized) and exact
    * integer-additive under any batch split: unlike a KLL/GK sketch
    * fold, the maintained quantiles are EXACTLY the batch #62 ones.
    * Interpolation replays Spark's `percentile` semantics verbatim:
    * position = p·(n−1); `(higher−pos)·v_lo + (pos−lower)·v_hi`
    * with v at 0-indexed ranks floor/ceil(pos) — same ops, same
    * order, so the fold is bit-identical to the one-shot aggregate.
    * NULL rule replayed too (r18 ADVICE): `percentile` EXCLUDES null
    * measures from the rank order while #62's `count(1)` still counts
    * their rows as docs — so the rank window here runs over non-null
    * histogram rows only (a null-text row would otherwise sort first
    * and offset every real rank), position interpolates over the
    * non-null mass, and the null mass joins back into `docs` alone.
    * An all-null source keeps its docs row with null percentiles,
    * exactly like the batch aggregate.
    */
  private[graft] def tokenQuantilesFromHist(hist: DataFrame): DataFrame = {
    val nulls = hist.where(col("n_tokens").isNull)
      .groupBy(col("source").as("_graft_nsrc"))
      .agg(sum("n").as("_graft_nulls"))
    val wCum = Window.partitionBy("source").orderBy("n_tokens")
    val wAll = Window.partitionBy("source")
    val cum = hist.where(col("n_tokens").isNotNull)
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("tot", sum("n").over(wAll))
    val ps = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75", 0.9 -> "90")
    def pos(p: Double) = lit(p) * (col("tot") - 1).cast("double")
    val aggs = ps.flatMap { case (p, tag) =>
      val lower = floor(pos(p)).cast("long")
      val upper = ceil(pos(p)).cast("long")
      Seq(
        min(when(col("cum") >= lower + 1, col("n_tokens"))).as(s"lo$tag"),
        min(when(col("cum") >= upper + 1, col("n_tokens"))).as(s"hi$tag"))
    }
    cum.groupBy("source")
      .agg(max("tot").as("vals"), aggs: _*)
      // null-safe FULL join: a null-SOURCE group must still pair with
      // its own null-token mass, and an all-null source exists only
      // on the nulls side
      .join(nulls, col("source") <=> col("_graft_nsrc"), "full")
      .select(coalesce(col("source"), col("_graft_nsrc")).as("source") +:
        (coalesce(col("vals"), lit(0L)) +
          coalesce(col("_graft_nulls"), lit(0L))).as("docs") +:
        ps.map { case (p, tag) =>
          val position = lit(p) * (col("vals") - 1).cast("double")
          val lower = floor(position).cast("long")
          val upper = ceil(position).cast("long")
          when(upper === lower, col(s"lo$tag").cast("double"))
            .otherwise(
              (upper.cast("double") - position) *
                col(s"lo$tag").cast("double") +
              (position - lower.cast("double")) *
                col(s"hi$tag").cast("double"))
            .as(s"p$tag")
        }: _*)
      .orderBy("source")
  }

  /** Quality-score cut for the funnel's quality stage (#72): keeps
    * ~73% of the test corpus; production pipelines tune it against
    * their classifier calibration.
    */
  private[graft] val FunnelQualityTau = 0.6

  /** #72 — `q_curation_funnel`: the END-TO-END curation pipeline as
    * one operator — the composition a training-data run actually
    * executes, with the per-stage survivor counts every curation
    * report leads with. Stages (nested conjunctions, each reusing the
    * EXACT shared definition of its standalone operator):
    *
    *   0 all → 1 lang = en → 2 quality_score ≥ τ (#33's score) →
    *   3 not repetitive (#71) → 4 no blocklisted word (#193's battery
    *   — the C4 §2.2 cleaning step, stateless like 1-3) → 5
    *   exact-dedup canonical among stage-4 survivors (#25's
    *   fingerprint) → 6 not in / not contaminated by the benchmark
    *   slice (#58).
    *
    * Scale shape — this is ONE corpus scan, not six: quality,
    * repetition, and the fingerprint are map-side projections fused
    * into the scan; contamination verdicts are a TINY frame (docs
    * overlapping the benchmark) broadcast back; the only corpus-scale
    * exchange is the fingerprint window the dedup stage needs anyway;
    * the stage counts are one scalar aggregate of predicate sums
    * (stage k's predicate = stage k−1's ∧ its own rule), unpivoted to
    * rows driver-side by `stack`. A naive materialize-each-stage
    * funnel re-scans and re-shuffles per stage — this shape does not.
    */
  /** The funnel's PER-DOC flag stage, shared by #72's counts and
    * #169's verdict table (one definition of every gate, so the
    * dashboard and the per-doc readout cannot disagree): cumulative
    * stage passes p1..p6 (NULL-free — a NULL quality score fails its
    * gate in both engines), the bench-slice marker, and the
    * contamination verdict.
    */
  private def funnelFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    val contam = contaminated(docs.where(!isBench), docs.where(isBench),
        "doc_id", "text", n = 3, minOverlap = ContaminationK)
      .where(col("contaminated"))
      .select(col("id").as("doc_id"), col("contaminated"))
    Text.withBlocklist(Text.withRepetition(Text.withQuality(docs)), "text")
      .withColumn("fp", Dedup.contentFp)
      .join(broadcast(contam), Seq("doc_id"), "left")
      .withColumn("is_bench", isBench)
      .withColumn("p1", coalesce(col("lang") === "en", lit(false)))
      .withColumn("p2", col("p1") && coalesce(
        col("quality_score") >= FunnelQualityTau, lit(false)))
      .withColumn("p3", col("p2") &&
        coalesce(!col("is_repetitive"), lit(false)))
      .withColumn("p4", col("p3") && coalesce(col("bl_pass"), lit(false)))
      .withColumn("keep_id",
        min(when(col("p4"), col("doc_id"))).over(Window.partitionBy("fp")))
      .withColumn("p5", col("p4") && col("doc_id") === col("keep_id"))
      .withColumn("p6", col("p5") && !col("is_bench") &&
        coalesce(col("contaminated"), lit(false)) === false)
  }

  def qCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    funnelFlags(spark, dir)
      .agg(
        count(lit(1)).as("c0"),
        sum(col("p1").cast("long")).as("c1"),
        sum(col("p2").cast("long")).as("c2"),
        sum(col("p3").cast("long")).as("c3"),
        sum(col("p4").cast("long")).as("c4"),
        sum(col("p5").cast("long")).as("c5"),
        sum(col("p6").cast("long")).as("c6"))
      .selectExpr(
        """stack(7,
          |  CAST(0 AS BIGINT), 'all',            c0,
          |  CAST(1 AS BIGINT), 'lang_en',        c1,
          |  CAST(2 AS BIGINT), 'quality',        c2,
          |  CAST(3 AS BIGINT), 'repetition',     c3,
          |  CAST(4 AS BIGINT), 'blocklist',      c4,
          |  CAST(5 AS BIGINT), 'exact_dedup',    c5,
          |  CAST(6 AS BIGINT), 'decontaminated', c6
          |) AS (stage, stage_name, survivors)""".stripMargin)
      .orderBy("stage")
  }

  /** #169 — `q_curation_verdicts`: the funnel at the DOC grain — one
    * row per document with its final `keep` verdict and, for dropped
    * docs, the FIRST stage that rejected it (`drop_stage` 1-5,
    * `drop_reason` ∈ lang / quality / repetition / exact_dup /
    * benchmark / contaminated — stage 5 splits into the bench-slice
    * exclusion vs a real contamination hit). This is the audit table
    * a curation run actually ships next to its corpus: "why is doc X
    * not in the training set?" answered per doc, and the funnel
    * dashboard (#72) is exactly its contraction — both derive from
    * the SHARED [[funnelFlags]] stage, and the spec pins the
    * reconciliation (survivors at stage k == docs with
    * drop_stage > k or keep).
    *
    * Scale: identical to #72's plan (the flags are the cost; this
    * query just skips the final fold) — per-doc projections, one
    * fingerprint window, the contamination candidate join. Output is
    * corpus-sized but three thin columns beyond the id.
    */
  def qCurationVerdicts(spark: SparkSession, dir: String): DataFrame =
    funnelFlags(spark, dir)
      .select(col("doc_id"),
        col("p6").as("keep"),
        when(col("p6"), lit(null).cast("long"))
          .when(!col("p1"), 1L).when(!col("p2"), 2L).when(!col("p3"), 3L)
          .when(!col("p4"), 4L).when(!col("p5"), 5L).otherwise(6L)
          .as("drop_stage"),
        when(col("p6"), lit(null).cast("string"))
          .when(!col("p1"), "lang").when(!col("p2"), "quality")
          .when(!col("p3"), "repetition").when(!col("p4"), "blocklist")
          .when(!col("p5"), "exact_dup")
          .when(col("is_bench"), "benchmark").otherwise("contaminated")
          .as("drop_reason"))
      .orderBy("doc_id")

  /** SQL twin of #169 — the funnel oracle's CTE chain kept at the doc
    * grain, with the same NULL-fails-its-gate coalesces the Spark
    * flags state explicitly. */
  val qCurationVerdictsSql: String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM (${Text.qTextQualitySql})),
       |r AS (SELECT doc_id, is_repetitive FROM (${Text.qIntradocRepetitionSql})),
       |c AS (SELECT doc_id FROM ($qContaminationSql) WHERE contaminated),
       |d AS (SELECT doc_id, lang, ${Dedup.contentFpSql} AS fp,
       |        ${Text.blocklistNSqlOf("text")} AS nb
       |      FROM documents),
       |f AS (
       |  SELECT d.doc_id, d.fp, d.nb,
       |    coalesce(d.lang = 'en', false) AS p1,
       |    coalesce(d.lang = 'en', false)
       |      AND coalesce(q.quality_score >= $FunnelQualityTau, false) AS p2
       |  FROM d JOIN q ON d.doc_id = q.doc_id),
       |g AS (
       |  SELECT f.doc_id, f.fp, f.p1, f.p2,
       |    f.p2 AND coalesce(NOT r.is_repetitive, false) AS p3,
       |    f.p2 AND coalesce(NOT r.is_repetitive, false)
       |      AND coalesce(f.nb = 0, false) AS p4
       |  FROM f JOIN r ON f.doc_id = r.doc_id),
       |k AS (
       |  SELECT doc_id, p1, p2, p3, p4,
       |    p4 AND doc_id = min(CASE WHEN p4 THEN doc_id END)
       |      OVER (PARTITION BY fp) AS p5
       |  FROM g),
       |v AS (
       |  SELECT k.doc_id, k.p1, k.p2, k.p3, k.p4, k.p5,
       |    ((k.doc_id % 97) + 97) % 97 = 0 AS is_bench,
       |    c.doc_id IS NOT NULL AS contam
       |  FROM k LEFT JOIN c ON k.doc_id = c.doc_id)
       |SELECT doc_id,
       |  (p5 AND NOT is_bench AND NOT contam) AS keep,
       |  CAST(CASE WHEN p5 AND NOT is_bench AND NOT contam THEN NULL
       |       WHEN NOT p1 THEN 1 WHEN NOT p2 THEN 2 WHEN NOT p3 THEN 3
       |       WHEN NOT p4 THEN 4 WHEN NOT p5 THEN 5 ELSE 6 END AS BIGINT) AS drop_stage,
       |  CASE WHEN p5 AND NOT is_bench AND NOT contam THEN NULL
       |       WHEN NOT p1 THEN 'lang' WHEN NOT p2 THEN 'quality'
       |       WHEN NOT p3 THEN 'repetition' WHEN NOT p4 THEN 'blocklist'
       |       WHEN NOT p5 THEN 'exact_dup'
       |       WHEN is_bench THEN 'benchmark' ELSE 'contaminated'
       |       END AS drop_reason
       |FROM v ORDER BY doc_id""".stripMargin

  /** #190 — `q_training_manifest`: the END-TO-END training-set
    * manifest (r14 verdict item 4) — the readout a run ships when the
    * CURATED corpus is laid out for training: per (split, shard) cell,
    * how many documents survived, how many packed sequences they
    * fill, their token mass, how many documents straddle a pack cut,
    * and how many tokens the mixture plan draws from the cell. One
    * gated row set proves the pipeline COHERES end-to-end, the way
    * #72 proved the curation half: every stage below reuses the EXACT
    * shared definition of its standalone gated operator, so the
    * manifest cannot drift from the stages it composes.
    *
    * Stage composition:
    *   1. curation verdicts (#72/#169's [[funnelFlags]] `p6`, incl.
    *      the #193 blocklist stage);
    *   2. near-dup keeper election (#43's cluster labels + #129's
    *      quality-argmax): a clustered doc survives only as its
    *      cluster's elected keeper — a cluster whose keeper fails the
    *      funnel contributes nothing (the conservative composition:
    *      curation verdicts are per-doc, never transferable);
    *   3. leakage-free split (#107: hash31(cluster key) mod 10);
    *   4. shard layout (#92: hash31(doc_id) mod [[NumShards]]);
    *   5. sequence packing (#106's concat-and-chunk cumsum, windowed
    *      per (split, shard) — a training run packs within its own
    *      split's shard streams);
    *   6. mixture plan (#141's sqrt-damped weights, fit over the
    *      TRAIN survivors only): a train cell's `planned_tokens` =
    *      Σ_source ⌊epochs_source · cell-tokens_source⌋ — the expected
    *      token draw from that cell under the plan; eval cells are
    *      never drawn (NULL).
    *
    * Scale: the corpus is scanned ONCE for flags+tokens (the funnel's
    * fused projections); keepers/epochs are cluster- or source-grain
    * broadcasts, and labels are DOC-grain but bounded by
    * docs-with-a-dup (the #107 broadcast rationale — on a dup-heavy
    * corpus this bound approaches the corpus and the labels join
    * switches to a shuffle by dropping the hint; the hint stays
    * because the label store must never be the shuffled side at the
    * gate shape); the only survivor-scale exchange is the
    * (split, shard) pack window, whose partitioning the cell
    * aggregate RIDES (split/shard ⊂ grouping key — the #106
    * discipline); the final (split, shard, source) → (split, shard)
    * contraction is cell-grain. The survivor frame is persisted for
    * its two consumers (the mix fit's normalizer + the cell
    * aggregate) — the shingleSets lifecycle.
    */
  def qTrainingManifest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val flags = funnelFlags(spark, dir)
      .select(col("doc_id"), col("source"),
        coalesce(Text.wsTokenCount, lit(0L)).as("n_tokens"), col("p6"))
    val labels = Dedup.qDupClusters(spark, dir).select("doc_id", "cluster_id")
    val keepers = Dedup.qKeeperQuality(spark, dir)
      .select(col("cluster_id"), col("keeper_id"))
    val surv = flags.where(col("p6"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .join(broadcast(keepers), Seq("cluster_id"), "left")
      .where(col("cluster_id").isNull || col("doc_id") === col("keeper_id"))
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
    manifestTail(surv.select("doc_id", "source", "n_tokens", "ckey"))
  }

  /** The manifest's layout/packing/mixture tail over a SURVIVOR frame
    * `(doc_id, source, n_tokens, ckey)` — everything downstream of
    * survivorship: #107 split, #92 shard, #106 pack window, #141 mix
    * fit, and the cell aggregate. ONE definition shared by the batch
    * gate (#190) and the streaming fold ([[graft.streaming.Streams
    * .trainingManifestState]]), so the two cannot disagree about the
    * layout math; the streaming side differs only in WHERE the
    * survivors come from (the at-ingest stores). Deterministic in the
    * survivor SET — packing orders by doc_id within (split, shard),
    * never by arrival.
    *
    * `materialize = true` returns the (cell-grain, tiny) result as an
    * eagerly-computed checkpoint and UNPERSISTS the internal pack
    * frame before returning — the long-lived-caller form: the
    * streaming readout runs once per monitoring sweep, and leaving
    * one persisted corpus-scale frame per sweep in CacheManager would
    * accumulate forever (self-review r16). The lazy default keeps the
    * one-shot batch gate's cache-reuse plan (PlanSpec-pinned).
    */
  private[graft] def manifestTail(surv0: DataFrame,
      materialize: Boolean = false): DataFrame = {
    val surv = surv0
      .withColumn("split",
        when(pmod(hash31(col("ckey")), lit(Dedup.SplitBins)) === 0, "test")
          .when(pmod(hash31(col("ckey")), lit(Dedup.SplitBins)) === 1, "val")
          .otherwise("train"))
      .withColumn("shard", pmod(hash31(col("doc_id")), lit(NumShards)))
    val w = Window.partitionBy("split", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = lit(PackBudget)
    val packed = surv
      .withColumn("cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // integral `div`, not double `/` + floor — the packAssign
      // boundary-exactness rationale (ADVICE r15)
      .withColumn("straddle",
        col("n_tokens") > 0 &&
          call_function("div", col("cum") + col("n_tokens") - lit(1L), b) >
            call_function("div", col("cum"), b))
      .persist()
    val epochs = mixPlan(
        packed.where(col("split") === "train")
          .select(col("source"), col("n_tokens")),
        "source", "n_tokens", MixBudgetTokens)
      .select(col("source"), col("epochs"))
    val out = packed.groupBy("split", "shard", "source")
      .agg(count(lit(1)).as("docs_s"), sum("n_tokens").as("tok_s"),
        sum(when(col("straddle"), 1L).otherwise(0L)).as("strad_s"))
      .join(broadcast(epochs), Seq("source"), "left")
      .withColumn("draw_s",
        when(col("split") === "train",
          coalesce(
            floor(col("epochs") * col("tok_s").cast("double")).cast("long"),
            lit(0L)))
          .otherwise(lit(null).cast("long")))
      .groupBy("split", "shard")
      .agg(sum("docs_s").as("n_docs"),
        sum("tok_s").as("sum_tokens"),
        sum("strad_s").as("n_straddles"),
        sum("draw_s").as("planned_tokens"))
      .withColumn("n_packs",
        when(col("sum_tokens") === 0, 0L)
          .otherwise(
            call_function("div", col("sum_tokens") - lit(1L), b) + lit(1L)))
      .select(col("split"), col("shard"), col("n_docs"), col("n_packs"),
        col("sum_tokens"), col("n_straddles"), col("planned_tokens"))
      .orderBy("split", "shard")
    if (materialize) {
      val m = out.localCheckpoint(true)
      packed.unpersist()
      m
    } else out
  }

  /** #190's oracle — composes the stage oracles verbatim: the #169
    * verdict subquery, the #43 recursive-CC labeling, the #129 keeper
    * election, then the #107/#92/#106/#141 integer/decimal formulas
    * inline (each literal identical to its standalone oracle's).
    */
  val qTrainingManifestSql: String = {
    import graft.operators.Dedup
    s"""WITH verd AS (
       |  SELECT doc_id FROM ($qCurationVerdictsSql) WHERE keep),
       |lab AS (SELECT doc_id, cluster_id FROM (${Dedup.qDupClustersSql})),
       |keepers AS (SELECT cluster_id, keeper_id FROM (${Dedup.qKeeperQualitySql})),
       |dt AS (
       |  SELECT doc_id, source, COALESCE(${Text.wsTokenCountSql}, 0) AS n
       |  FROM documents),
       |surv AS (
       |  SELECT t.doc_id, t.source, t.n,
       |    COALESCE(l.cluster_id, t.doc_id) AS ckey
       |  FROM dt t
       |  JOIN verd v ON v.doc_id = t.doc_id
       |  LEFT JOIN lab l ON l.doc_id = t.doc_id
       |  LEFT JOIN keepers k ON k.cluster_id = l.cluster_id
       |  WHERE l.cluster_id IS NULL OR t.doc_id = k.keeper_id),
       |a AS (
       |  SELECT doc_id, source, n,
       |    CASE ${hash31Sql("ckey")} % ${Dedup.SplitBins}
       |      WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split,
       |    ${hash31Sql("doc_id")} % $NumShards AS shard
       |  FROM surv),
       |c AS MATERIALIZED (
       |  SELECT split, shard, doc_id, source, n,
       |    SUM(n) OVER (PARTITION BY split, shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n AS cum
       |  FROM a),
       |ms AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
       |    CAST(sum(n) AS BIGINT) AS tokens,
       |    CAST(round(sqrt(CAST(sum(n) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS damped
       |  FROM c WHERE split = 'train' GROUP BY source),
       |mw AS (
       |  SELECT source, tokens,
       |    round(CAST(damped AS DOUBLE) / CAST((SELECT sum(damped) FROM ms) AS DOUBLE), 6) AS weight
       |  FROM ms),
       |mp AS (
       |  SELECT source,
       |    CASE WHEN tokens = 0 THEN NULL
       |      ELSE round(CAST(floor($MixBudgetTokens.0 * weight) AS DOUBLE) / tokens, 6)
       |    END AS epochs
       |  FROM mw),
       |cs AS (
       |  SELECT split, shard, c.source,
       |    CAST(count(*) AS BIGINT) AS docs_s,
       |    CAST(sum(n) AS BIGINT) AS tok_s,
       |    CAST(sum(CASE WHEN n > 0
       |      AND (cum + n - 1) // $PackBudget > cum // $PackBudget
       |      THEN 1 ELSE 0 END) AS BIGINT) AS strad_s
       |  FROM c GROUP BY 1, 2, 3),
       |d AS (
       |  SELECT split, shard, docs_s, tok_s, strad_s,
       |    CASE WHEN split = 'train'
       |      THEN COALESCE(CAST(floor(mp.epochs * CAST(tok_s AS DOUBLE)) AS BIGINT), 0)
       |      ELSE NULL END AS draw_s
       |  FROM cs LEFT JOIN mp ON mp.source = cs.source)
       |SELECT split, shard,
       |  CAST(sum(docs_s) AS BIGINT) AS n_docs,
       |  CAST(CASE WHEN sum(tok_s) = 0 THEN 0
       |    ELSE (sum(tok_s) - 1) // $PackBudget + 1 END AS BIGINT) AS n_packs,
       |  CAST(sum(tok_s) AS BIGINT) AS sum_tokens,
       |  CAST(sum(strad_s) AS BIGINT) AS n_straddles,
       |  CAST(sum(draw_s) AS BIGINT) AS planned_tokens
       |FROM d GROUP BY split, shard ORDER BY split, shard""".stripMargin
  }

  /** #125 — per-source TF-IDF characteristic terms: the top-10 words
    * of each source by `tf · ln(N/df)` (tf = occurrences in the
    * source, df = corpus docs containing the word, N = corpus docs) —
    * the "what is this slice about" readout a curation run reads
    * before deciding a source's mixture weight; words every source
    * shares (df → N) score → 0, words concentrated in one source rank
    * first. Three exchanges, all on vocabulary- or word-grain keys:
    * the (source, word) tf aggregate, the per-word df aggregate (doc
    * distinct first — count(*) after a distinct, never a
    * count-distinct Expand), and the vocabulary-sized tf⋈df join; N
    * rides as a 1-row broadcast. Ranking happens on the ROUNDED score
    * (6 dp, word tie-break) in BOTH engines, so the two engines'
    * last-ulp `ln` differences cannot reorder the cut; the per-source
    * top-10 is WindowGroupLimit-pruned map-side, never a global sort.
    * At 100 TB every exchange is vocabulary-bounded except the
    * word-explosion scan itself, which is map-side.
    */
  def qTfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    // Two explode branches ON PURPOSE (probe 16): the reviewed
    // alternative — contract once to a persisted (doc, source, word)
    // frame and re-aggregate — measured 0.73-0.83x of this form at
    // x16-x64 corpus scale and trending WORSE with size: the codegen'd
    // scan→explode→partial-agg pipeline is cheaper to run twice than a
    // (doc, word)-grain cache is to materialize and re-read (a word-
    // exploded contraction is not much smaller than the text itself).
    val tf = words.groupBy("source", "word").agg(count(lit(1)).as("tf"))
    val dfreq = words.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy("source")
      .orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .select("source", "rk", "word", "tf", "df", "tfidf")
      .orderBy("source", "rk")
  }

  val qTfidfTermsSql: String =
    """WITH w2 AS (
      |  SELECT doc_id, source, w AS word FROM (
      |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  WHERE length(w) > 0),
      |tf AS (SELECT source, word, CAST(count(*) AS BIGINT) AS tf
      |       FROM w2 GROUP BY 1, 2),
      |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
      |        FROM (SELECT DISTINCT doc_id, word FROM w2) GROUP BY 1),
      |scored AS (
      |  SELECT source, word, tf, df,
      |    round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df), 6)
      |      AS tfidf
      |  FROM tf JOIN dfq USING (word)),
      |top AS (
      |  SELECT source, word, tf, df, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY tfidf DESC, word) AS rk
      |  FROM scored QUALIFY rk <= 10)
      |SELECT source, CAST(rk AS BIGINT) AS rk, word, tf, df, tfidf
      |FROM top ORDER BY source, rk""".stripMargin

  /** #90 — vocabulary coverage: the top-20 words by occurrence count
    * with each prefix's cumulative share of ALL token occurrences —
    * the readout that decides how large a tokenizer vocabulary must be
    * to cover X% of a corpus. Counting is the usual two-phase hash
    * aggregate (map-side partials, one exchange on the word); the
    * top-20 is a distributed TakeOrdered, NOT a global sort — only
    * after the frame is 20 rows does the single-task running-total
    * window run (a global-window cumsum over the full vocabulary would
    * be the straggler shape this avoids). The grand total arrives as a
    * 1-row broadcast, so the fraction needs no collect; one integer
    * division per output row keeps the double deterministic.
    */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val rank = Window.orderBy(col("cnt").desc, col("word"))
    words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
      .crossJoin(broadcast(words.agg(count(lit(1)).as("total"))))
      .withColumn("rk", row_number().over(rank).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(rank))
      .select(col("rk"), col("word"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("total")).as("coverage"))
      .orderBy("rk")
  }

  val qVocabCoverageSql: String =
    """WITH w2 AS (
      |  SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0),
      |cnts AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w2 GROUP BY 1),
      |top AS (
      |  SELECT word, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk
      |  FROM cnts QUALIFY rk <= 20)
      |SELECT CAST(rk AS BIGINT) AS rk, word, cnt,
      |  CAST(SUM(cnt) OVER (ORDER BY rk) AS BIGINT) AS cum_cnt,
      |  CAST(SUM(cnt) OVER (ORDER BY rk) AS DOUBLE) / (SELECT COUNT(*) FROM w2) AS coverage
      |FROM top ORDER BY rk""".stripMargin

  val qCurationFunnelSql: String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM (${Text.qTextQualitySql})),
       |r AS (SELECT doc_id, is_repetitive FROM (${Text.qIntradocRepetitionSql})),
       |c AS (SELECT doc_id FROM ($qContaminationSql) WHERE contaminated),
       |d AS (SELECT doc_id, lang, ${Dedup.contentFpSql} AS fp,
       |        ${Text.blocklistNSqlOf("text")} AS nb
       |      FROM documents),
       |s1 AS (SELECT d.doc_id, d.fp, d.nb FROM d WHERE lang = 'en'),
       |s2 AS (SELECT s1.doc_id, s1.fp, s1.nb FROM s1 JOIN q ON s1.doc_id = q.doc_id
       |       WHERE q.quality_score >= $FunnelQualityTau),
       |s3 AS (SELECT s2.doc_id, s2.fp, s2.nb FROM s2 JOIN r ON s2.doc_id = r.doc_id
       |       WHERE NOT r.is_repetitive),
       |s4 AS (SELECT doc_id, fp FROM s3 WHERE nb = 0),
       |s5 AS (SELECT doc_id FROM (
       |         SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS mn FROM s4)
       |       WHERE doc_id = mn),
       |s6 AS (SELECT s5.doc_id FROM s5 LEFT JOIN c ON s5.doc_id = c.doc_id
       |       WHERE ((s5.doc_id % 97) + 97) % 97 <> 0 AND c.doc_id IS NULL)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
       |    (SELECT count(*) FROM documents) AS survivors
       |  UNION ALL SELECT 1, 'lang_en',        (SELECT count(*) FROM s1)
       |  UNION ALL SELECT 2, 'quality',        (SELECT count(*) FROM s2)
       |  UNION ALL SELECT 3, 'repetition',     (SELECT count(*) FROM s3)
       |  UNION ALL SELECT 4, 'blocklist',      (SELECT count(*) FROM s4)
       |  UNION ALL SELECT 5, 'exact_dedup',    (SELECT count(*) FROM s5)
       |  UNION ALL SELECT 6, 'decontaminated', (SELECT count(*) FROM s6)
       |) ORDER BY stage""".stripMargin

  /** #121 — `q_corpus_diff`: what changed between two corpus
    * snapshots — per (source, status) doc counts, status ∈ added /
    * removed / changed / unchanged. The versioning readout every
    * training-data pipeline runs before promoting a new crawl: how
    * much of the corpus moved, and where.
    *
    * The two snapshots are DETERMINISTIC slices of the one test
    * corpus (the driver ships a single documents table): the old
    * snapshot drops ids with hash31 ≡ 0 (mod 20) — those become
    * `added` — the new drops ≡ 0 (mod 17) — `removed` — and
    * re-crawls ids ≡ 0 (mod 13) with a version marker appended to
    * the normalized text before fingerprinting — `changed`. Both
    * engines compute the same slices from the same integer hash
    * ([[hash31]]/[[hash31Sql]]), so the gate compares the DIFF
    * OPERATOR, not the simulation: Spark runs [[graft.api.Graft
    * .corpusDiff]]'s union-agg (one exchange), the oracle the
    * textbook FULL OUTER JOIN — hash equality proves they are the
    * same diff.
    */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .where(col("doc_id").isNotNull)
      .withColumn("h", hash31(col("doc_id")))
    val oldSnap = d.where(pmod(col("h"), lit(20)) =!= 0)
      .select(col("doc_id"), col("source"), Dedup.contentFp.as("fp"))
    val newSnap = d.where(pmod(col("h"), lit(17)) =!= 0)
      .select(col("doc_id"), col("source"),
        when(pmod(col("h"), lit(13)) === 0,
          md5(concat(Dedup.contentNorm, lit("v2"))))
          .otherwise(Dedup.contentFp).as("fp"))
    graft.api.Graft.corpusDiff(oldSnap, newSnap, "doc_id", "fp",
        carry = Seq("source"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("docs"))
      .orderBy("source", "status")
  }

  val qCorpusDiffSql: String = {
    val h = hash31Sql("doc_id")
    s"""WITH d AS (
       |  SELECT doc_id, source, ${Dedup.contentFpSql} AS fp,
       |    md5(${Dedup.contentNormSql} || 'v2') AS fp_v2, $h AS h
       |  FROM documents WHERE doc_id IS NOT NULL),
       |a AS (SELECT doc_id, source, fp FROM d WHERE h % 20 <> 0),
       |b AS (SELECT doc_id, source,
       |        CASE WHEN h % 13 = 0 THEN fp_v2 ELSE fp END AS fp
       |      FROM d WHERE h % 17 <> 0),
       |j AS (SELECT
       |        COALESCE(b.source, a.source) AS source,
       |        CASE WHEN a.doc_id IS NULL THEN 'added'
       |             WHEN b.doc_id IS NULL THEN 'removed'
       |             WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
       |             ELSE 'changed' END AS status
       |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
       |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS docs
       |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin
  }

  /** #122 — `q_corpus_drift`: DISTRIBUTION drift between the same two
    * snapshots #121 diffs — per source, old/new doc counts, old/new
    * mean token length, and the L1 distance (total variation ×2)
    * between the snapshots' length-bucket distributions (#53's
    * power-of-two buckets). #121 answers "which docs moved"; this
    * answers "did the corpus SHAPE move" — the crawl-regression check
    * a pipeline runs before promoting a snapshot (a new crawl that
    * doubles the short-doc mass has high drift even if every doc is
    * `added`/`unchanged`).
    *
    * Determinism discipline: the L1 is CROSS-MULTIPLIED to integers —
    * `|n_b_old·N_new − n_b_new·N_old|` summed in DECIMAL(38,0)
    * (HUGEINT in the oracle), ONE double division at the end — so no
    * per-bucket float ratio ever sums in partition order (the #115
    * rule; a float `Σ|p_old−p_new|` would be bit-nondeterministic
    * under repartitioning). Products stay < 10³⁸ for any corpus
    * (counts ≤ 10¹⁹ each). Means are exact long sums with one guarded
    * final division (a source empty in a snapshot yields NULL, not an
    * ANSI divide-by-zero).
    *
    * Shape: ONE documents scan (both snapshot memberships are
    * per-row hash tests), one contracted (source, bucket) exchange,
    * a per-source window + final agg over the contracted frame only.
    */
  def qCorpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .where(col("doc_id").isNotNull)
      .withColumn("h", hash31(col("doc_id")))
      .select(col("source"),
        (pmod(col("h"), lit(20)) =!= 0).as("in_old"),
        (pmod(col("h"), lit(17)) =!= 0).as("in_new"),
        Text.wsTokenCount.as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 0, 0L)
          .otherwise(length(bin(col("n_tokens"))).cast("long")))
    driftTail(d.groupBy("source", "bucket")
      .agg(
        sum(when(col("in_old"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("in_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("in_old"), col("n_tokens"))).as("tok_old"),
        sum(when(col("in_new"), col("n_tokens"))).as("tok_new")))
  }

  /** The drift readout's shared tail (#122 / #128): from a contracted
    * (source, bucket, n_old, n_new, tok_old, tok_new) frame to the
    * per-source drift row — per-source totals via window, the
    * cross-multiplied integer L1, one final double division per
    * output column. One definition, so the batch query and the
    * streaming sweep cannot disagree on what "drift" means.
    */
  private[graft] def driftTail(hist: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
    hist
      .withColumn("big_n_old", sum("n_old").over(w))
      .withColumn("big_n_new", sum("n_new").over(w))
      .withColumn("term", abs(
        col("n_old").cast("decimal(38,0)") * col("big_n_new") -
          col("n_new").cast("decimal(38,0)") * col("big_n_old")))
      .groupBy("source")
      .agg(
        max("big_n_old").as("docs_old"),
        max("big_n_new").as("docs_new"),
        sum("tok_old").as("sum_tok_old"),
        sum("tok_new").as("sum_tok_new"),
        sum("term").as("l1_num"))
      .select(col("source"),
        col("docs_old"), col("docs_new"),
        when(col("docs_old") > 0,
          col("sum_tok_old").cast("double") / col("docs_old").cast("double"))
          .as("mean_tokens_old"),
        when(col("docs_new") > 0,
          col("sum_tok_new").cast("double") / col("docs_new").cast("double"))
          .as("mean_tokens_new"),
        when(col("docs_old") > 0 && col("docs_new") > 0,
          col("l1_num").cast("double") /
            (col("docs_old").cast("double") * col("docs_new").cast("double")))
          .as("len_l1_drift"))
      .orderBy("source")
  }

  /** One snapshot's contracted length-histogram — the additive state
    * behind #128's streaming drift: per (source, power-of-two token
    * bucket — #53's rule, null tokens keep a NULL bucket), the doc
    * count and token mass. Additive under union (integer sums), so
    * micro-batch partials sum to exactly the one-shot histogram
    * whatever the batch boundaries.
    */
  private[graft] def driftHistogram(df: DataFrame, sourceCol: String,
      tokensCol: String): DataFrame =
    df.select(col(sourceCol).as("source"),
        col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 0, 0L)
          .otherwise(length(bin(col("n_tokens"))).cast("long")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("tok"))

  /** #122's readout from a PAIR of [[driftHistogram]] frames (old,
    * new) — the form the streaming sweep uses once the new snapshot's
    * partials are summed. Null-safe join keys: a NULL bucket (null
    * token counts) or NULL source must merge into ONE row, as the
    * single-scan groupBy form does.
    */
  private[graft] def corpusDriftFromHistograms(oldHist: DataFrame,
      newHist: DataFrame): DataFrame = {
    val a = oldHist.select(col("source").as("os"), col("bucket").as("ob"),
      col("n").as("n_old"), col("tok").as("tok_old"))
    val b = newHist.select(col("source").as("ns"), col("bucket").as("nb"),
      col("n").as("n_new"), col("tok").as("tok_new"))
    driftTail(a.join(b,
        a("os") <=> b("ns") && a("ob") <=> b("nb"), "full_outer")
      .select(coalesce(col("os"), col("ns")).as("source"),
        coalesce(col("ob"), col("nb")).as("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("tok_old"), col("tok_new")))
  }

  val qCorpusDriftSql: String = {
    val h = hash31Sql("doc_id")
    s"""WITH d AS (
       |  SELECT source, ${Text.wsTokenCountSql} AS n_tokens, $h AS h
       |  FROM documents WHERE doc_id IS NOT NULL),
       |b AS (
       |  SELECT source,
       |    CASE WHEN n_tokens <= 0 THEN 0
       |         ELSE length(bin(n_tokens)) END AS bucket,
       |    CASE WHEN h % 20 <> 0 THEN 1 ELSE 0 END AS in_old,
       |    CASE WHEN h % 17 <> 0 THEN 1 ELSE 0 END AS in_new,
       |    n_tokens
       |  FROM d),
       |pb AS (
       |  SELECT source, bucket,
       |    SUM(in_old) AS n_old, SUM(in_new) AS n_new,
       |    SUM(CASE WHEN in_old = 1 THEN n_tokens END) AS tok_old,
       |    SUM(CASE WHEN in_new = 1 THEN n_tokens END) AS tok_new
       |  FROM b GROUP BY source, bucket),
       |t AS (
       |  SELECT source, n_old, n_new, tok_old, tok_new,
       |    SUM(n_old) OVER (PARTITION BY source) AS big_n_old,
       |    SUM(n_new) OVER (PARTITION BY source) AS big_n_new
       |  FROM pb)
       |SELECT source,
       |  CAST(MAX(big_n_old) AS BIGINT) AS docs_old,
       |  CAST(MAX(big_n_new) AS BIGINT) AS docs_new,
       |  CASE WHEN MAX(big_n_old) > 0
       |    THEN CAST(SUM(tok_old) AS DOUBLE) / CAST(MAX(big_n_old) AS DOUBLE)
       |  END AS mean_tokens_old,
       |  CASE WHEN MAX(big_n_new) > 0
       |    THEN CAST(SUM(tok_new) AS DOUBLE) / CAST(MAX(big_n_new) AS DOUBLE)
       |  END AS mean_tokens_new,
       |  CASE WHEN MAX(big_n_old) > 0 AND MAX(big_n_new) > 0
       |    THEN CAST(SUM(abs(CAST(n_old AS HUGEINT) * big_n_new
       |                      - CAST(n_new AS HUGEINT) * big_n_old)) AS DOUBLE)
       |      / (CAST(MAX(big_n_old) AS DOUBLE) * CAST(MAX(big_n_new) AS DOUBLE))
       |  END AS len_l1_drift
       |FROM t GROUP BY source ORDER BY source""".stripMargin
  }

  /** #202 dials: 4 hash rows × 16 counters — width deliberately
    * BELOW the gate corpus's vocabulary (31 distinct words in the
    * synthetic text) so collisions provably occur (pigeonhole) and
    * the overestimate column shows real sketch behavior, not a
    * collision-free identity. Production widths are millions; the
    * ε = e/width algebra is width-independent.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 16
  private[graft] val CmsTopN = 50

  /** #202 — `q_term_counts_cms`: COUNT-MIN SKETCH term frequencies
    * vs exact, side by side — the bounded-memory frequency primitive
    * (Cormode/Muthukrishnan 2005) for when the full term dictionary
    * (#38/#90's shape) is itself corpus-sized: depth×width INTEGER
    * counters estimate any term's occurrence count as the MIN of its
    * depth bucket counters, never underestimating (every counter ≥
    * the true count — collisions only ADD), with overestimate ≤ εN
    * at high probability (ε = e/width). Output: the top-[[CmsTopN]]
    * exact terms as `(word, n_exact, n_cms, overestimate)` —
    * all integers, so the gate hash-matches cross-engine (unlike the
    * HLL sketches, CMS is exactly replayable: the hash rows are
    * [[graft.functions.PolyHashStr]] salted by depth index, the same
    * Horner fold every hash-gated twin replays in DuckDB).
    *
    * Why CMS and not Space-Saving/Misra-Gries: those keep SMALLER
    * state but their counters depend on arrival ORDER — a
    * partition-order-dependent result can't pass this repo's
    * invariance discipline (or any cross-engine gate). CMS counters
    * are pure additive contractions: merge-order-free, additive
    * under any corpus split (the streaming/fold property for free).
    *
    * Scale: the sketch is ONE contraction of the depth-replicated
    * token stream to depth×width rows (map-side combine does the
    * heavy lifting; the exchange carries ≤ depth×width rows per
    * partition); estimates broadcast the tiny sketch frame. The
    * exact side exists for the gate's comparison; at 100 TB only
    * the sketch runs.
    */
  def qTermCountsCms(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val exact = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
    val top = exact.orderBy(col("n_exact").desc, col("word")).limit(CmsTopN)
    def bucket(d: Column, w: Column): Column =
      pmod(call("poly_hash",
        concat(d.cast("string"), lit("|"), w)), lit(CmsWidth.toLong))
    val sketch = words
      .select(col("word"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .select(col("d"), bucket(col("d"), col("word")).as("bucket"))
      .groupBy("d", "bucket").agg(count(lit(1)).as("n"))
    top
      .select(col("word"), col("n_exact"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .withColumn("bucket", bucket(col("d"), col("word")))
      .join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy("word", "n_exact").agg(min("n").as("n_cms"))
      .withColumn("overestimate", col("n_cms") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  /** #202's oracle: the depth-salted Horner hash, the depth×width
    * counter contraction, and the min-over-depth estimate stated in
    * DuckDB — integer end to end.
    */
  val qTermCountsCmsSql: String = {
    def ph(e: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % 1000000007)"
    def bucket(d: String, w: String) =
      s"((${ph(s"concat(CAST($d AS VARCHAR), '|', $w)")} % $CmsWidth) + $CmsWidth) % $CmsWidth"
    s"""WITH w AS MATERIALIZED (
       |  SELECT w AS word FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |exact AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM w GROUP BY 1),
       |top AS (
       |  SELECT word, n_exact FROM exact
       |  ORDER BY n_exact DESC, word LIMIT $CmsTopN),
       |sk AS MATERIALIZED (
       |  SELECT d, ${bucket("d", "word")} AS bucket,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM w CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS d)
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT t.word, t.n_exact, s.n
       |  FROM top t
       |  CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS d) dd
       |  JOIN sk s ON s.d = dd.d
       |    AND s.bucket = ${bucket("dd.d", "t.word")})
       |SELECT word, n_exact, min(n) AS n_cms,
       |  min(n) - n_exact AS overestimate
       |FROM est GROUP BY word, n_exact
       |ORDER BY n_exact DESC, word""".stripMargin
  }
}
