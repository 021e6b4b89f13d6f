package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SqlFunctions.call

/** A multimodal row: opaque binary payload + typed metadata (SURVEY.md
  * §2.3 #36). The payload is an opaque `binary` column — at 100 TB this
  * is the image/audio/video bytes column of a training-data lakehouse
  * table; here it is the UTF-8 bytes of the document text so every
  * byte-level feature stays deterministic and oracle-checkable.
  */
case class MediaRecord(
    doc_id: Long,
    format: String,
    width: Int,
    height: Int,
    payload: Array[Byte])

/** Decoded per-record features (the output schema of the decode stage). */
case class MediaFeatures(
    doc_id: Long,
    format: String,
    width: Int,
    height: Int,
    payload_len: Long,
    payload_md5: String,
    byte_sum: Long)

/** Output of the frame-sampling stage. */
case class FrameStats(
    doc_id: Long,
    n_frames: Long,
    n_sampled: Long,
    sampled_byte_sum: Long)

/** Output of the resize stage (#153). */
case class ResizedMedia(
    doc_id: Long,
    width: Int,
    height: Int,
    target_w: Int,
    target_h: Int,
    out_bytes: Long,
    resized_md5: String)

/** One dimension of the stub feature vector (#154). */
case class MediaEmbedding(
    doc_id: Long,
    dim: Int,
    value: Double)

/** 64-bit perceptual hash of a media record (#157). */
case class MediaPhash(
    doc_id: Long,
    phash: Long)

/** Multimodal column plumbing: typed metadata + binary payload +
  * a partition-batched decode/feature-extract stage.
  *
  * Scale notes: the media table keeps payloads as parquet binary — scans
  * that don't touch `payload` never read those pages (column pruning).
  * The decode stage is `mapPartitions` over a typed Dataset: one
  * decoder instantiation per partition (NOT per row — the shape a real
  * codec needs), streaming through the partition iterator without
  * materializing it. Partition count = upstream parquet splits, so
  * decode parallelism scales with the data.
  */
object Multimodal {

  /** documents → media table: deterministic typed metadata + payload
    * bytes. Formats/dimensions derive from doc_id so the DuckDB oracle
    * reproduces them exactly. The table carries EVERY record — a NULL
    * payload (null source text here; a failed fetch in production)
    * keeps its row so lineage and the phash null→0 contract survive;
    * the DECODE-family stages quarantine it at their input (see
    * [[decodeFeatures]]).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (lit(32) * (col("doc_id") % 16 + 1)).cast("int").as("width"),
        (lit(32) * (col("doc_id") % 9 + 1)).cast("int").as("height"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Decode / feature-extract over partition-sized batches.
    *
    * STUB: a real deployment decodes image/audio bytes here with a
    * codec (libs not present in this environment). The per-partition
    * "decoder" below computes deterministic byte-level features
    * instead, so the plumbing — typed schema, per-partition decoder
    * lifecycle, iterator batch shape — is real and tested while the
    * codec call is the only fake.
    *
    * A NULL payload is an UNDECODABLE record — quarantined at the
    * stage input (the validateEmbeddings convention; r19: the
    * null-source nasty corpus showed the decode family NPE-ing on it
    * — a codec cannot decode absent bytes, and fabricating empty
    * features would be worse). Same rule in [[frameSample]],
    * [[resizeStage]], [[embedStage]]; every consuming oracle filters
    * `text IS NOT NULL` in lockstep. [[phashStage]] deliberately does
    * NOT quarantine — its contract hashes a null/empty plane to 0 so
    * the dedup readout covers every record.
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.where(col("payload").isNotNull).mapPartitions { records =>
      // Per-partition decoder instantiation (a real codec context would
      // be created once here, not per record).
      val md = java.security.MessageDigest.getInstance("MD5")
      records.map { r =>
        md.reset()
        val digest = md.digest(r.payload)
        val hex = digest.map(b => f"${b & 0xff}%02x").mkString
        var sum = 0L
        var i = 0
        while (i < r.payload.length) { sum += r.payload(i) & 0xff; i += 1 }
        MediaFeatures(r.doc_id, r.format, r.width, r.height,
          r.payload.length.toLong, hex, sum)
      }
    }
  }

  /** #36 gate query — metadata + byte-level features of the decode
    * stage, ordered by doc_id. byte_sum is excluded from the oracle
    * columns (DuckDB cannot fold over blob bytes) but is asserted
    * deterministic in the spec.
    */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaTable(spark, dir))
      .toDF()
      .select("doc_id", "format", "width", "height", "payload_len", "payload_md5")
      .orderBy("doc_id")

  /** Frame-sampling stage: chunk the payload into fixed 64-byte
    * "frames" (stand-in for video frame boundaries) and keep every
    * 4th — the decimation a vision pipeline applies before feature
    * extraction. Same partition-batched shape as [[decodeFeatures]];
    * the per-frame byte work is the stubbed codec step.
    */
  def frameSample(media: Dataset[MediaRecord],
      frameBytes: Int = 64, every: Int = 4): Dataset[FrameStats] = {
    import media.sparkSession.implicits._
    media.where(col("payload").isNotNull).mapPartitions { records =>
      records.map { r =>
        val nFrames = (r.payload.length + frameBytes - 1) / frameBytes
        var sampled = 0L
        var byteSum = 0L
        var f = 0
        while (f < nFrames) {
          if (f % every == 0) {
            sampled += 1
            var i = f * frameBytes
            val end = math.min(i + frameBytes, r.payload.length)
            while (i < end) { byteSum += r.payload(i) & 0xff; i += 1 }
          }
          f += 1
        }
        FrameStats(r.doc_id, nFrames.toLong, sampled, byteSum)
      }
    }
  }

  /** #36b gate query — frame/sample counts are oracle-checkable from
    * the payload length alone; sampled_byte_sum is spec-verified
    * (DuckDB cannot fold over blob bytes).
    */
  def qMultimodalFrames(spark: SparkSession, dir: String): DataFrame =
    frameSample(mediaTable(spark, dir))
      .toDF()
      .select("doc_id", "n_frames", "n_sampled")
      .orderBy("doc_id")

  /** #153 — resize stage. Aspect-preserving integer target under a
    * longest-side cap (the vision-pipeline preprocessing step before
    * feature extraction): images larger than [[.]]`maxSide` scale so
    * the longest side equals it, integer floor division (positive
    * dims, so JVM truncation == SQL floor division), never below 1.
    * The resample itself is the STUBBED codec step — bytes cycle to
    * the target RGB budget (`tw·th·3`), one "resampler" per
    * partition — while the dimension math, byte budget, schema, and
    * batch shape are real and oracle-checked.
    */
  def resizeStage(media: Dataset[MediaRecord],
      maxSide: Int = DefaultMaxSide): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.where(col("payload").isNotNull).mapPartitions { records =>
      val md = java.security.MessageDigest.getInstance("MD5")
      records.map { r =>
        val m = math.max(r.width, r.height)
        val (tw, th) =
          if (m <= maxSide) (r.width, r.height)
          else (math.max(1, r.width * maxSide / m),
            math.max(1, r.height * maxSide / m))
        val outLen = tw * th * 3
        // REAL-CODEC path (r15): a valid P6 payload is resampled for
        // real — nearest-neighbor over the decoded RGB raster to the
        // SAME (tw, th) the metadata plan names (the byte budget the
        // oracle checks is identical); the byte-cycle stub keeps
        // serving non-PPM payloads only
        // tw/th come from stored METADATA; a dirty row (0-dim
        // metadata on a valid P6 payload) must degrade like the stub
        // did, not crash the task (review r15)
        val out = PpmCodec.decodeP6(r.payload).filter(_ => tw > 0 && th > 0) match {
          case Some(img) => PpmCodec.resampleNearest(img, tw, th)
          case None =>
            val o = new Array[Byte](outLen)
            if (r.payload.length > 0) {
              var i = 0
              while (i < outLen) { o(i) = r.payload(i % r.payload.length); i += 1 }
            }
            o
        }
        md.reset()
        val hex = md.digest(out).map(b => f"${b & 0xff}%02x").mkString
        ResizedMedia(r.doc_id, r.width, r.height, tw, th,
          outLen.toLong, hex)
      }
    }
  }

  /** #153 gate query — the resize PLAN (dims + byte budget), computed
    * declaratively from the metadata alone. The gate's output never
    * depended on the payload bytes — every emitted column is integer
    * arithmetic over (width, height) — yet before r21 the query ran
    * the full [[resizeStage]] typed decode (per-row object
    * deserialization, P6 decode, a tw·th·3-byte resample buffer and
    * an md5 per record) only to DROP `resized_md5` in the select:
    * Spark cannot prune through `mapPartitions`, so ~150 KB/row of
    * dead allocation rode the gate (guide §1.2 "don't compute things
    * you throw away" / §8 "plan from metadata, move bytes once"). Now
    * the plan columns come from [[resizeTargetW]]/[[resizeTargetH]]
    * (whole-stage codegen, no object boundary); the BYTE-producing
    * path — decode + resample + digest — remains [[resizeStage]],
    * which production runs exactly when it writes resized bytes, and
    * MultimodalSpec pins stage == plan on the same corpus so the two
    * formulations cannot drift.
    */
  def qMultimodalResize(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir).toDF()
      .where(col("payload").isNotNull)
    m.select(col("doc_id"), col("width"), col("height"),
        resizeTargetW(col("width"), col("height")).as("target_w"),
        resizeTargetH(col("width"), col("height")).as("target_h"))
      .withColumn("out_bytes",
        col("target_w").cast("long") * col("target_h").cast("long") * lit(3L))
      .orderBy("doc_id")
  }

  /** The longest-side cap shared by [[resizeStage]] and the #153
    * declarative plan columns. */
  private[graft] val DefaultMaxSide = 224

  /** [[resizeStage]]'s integer target math as codegen'd columns:
    * `when(max(w,h) ≤ cap, side).otherwise(greatest(1, side·cap div
    * max))` — Spark's `div` and the JVM's `/` both truncate toward
    * zero, and the division is only reached when max(w,h) > cap > 0,
    * so the two formulations agree on every input including the
    * degenerate non-positive dims a negative doc_id manufactures
    * (those take the ≤-cap branch in both).
    */
  private def resizeTarget(side: Column, w: Column, h: Column,
      maxSide: Int): Column = {
    val mx = greatest(w, h)
    when(mx <= maxSide, side)
      .otherwise(greatest(lit(1),
        call_function("div", side * lit(maxSide), mx)))
      .cast("int")
  }
  private[graft] def resizeTargetW(w: Column, h: Column,
      maxSide: Int = DefaultMaxSide): Column = resizeTarget(w, w, h, maxSide)
  private[graft] def resizeTargetH(w: Column, h: Column,
      maxSide: Int = DefaultMaxSide): Column = resizeTarget(h, w, h, maxSide)

  val qMultimodalResizeSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(32 * (doc_id % 16 + 1) AS INT) AS width,
      |    CAST(32 * (doc_id % 9 + 1) AS INT) AS height
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (
      |  SELECT doc_id, width, height,
      |    greatest(width, height) AS mx
      |  FROM m)
      |SELECT doc_id, width, height,
      |  CAST(CASE WHEN mx <= 224 THEN width
      |       ELSE greatest(1, (width * 224) // mx) END AS INT) AS target_w,
      |  CAST(CASE WHEN mx <= 224 THEN height
      |       ELSE greatest(1, (height * 224) // mx) END AS INT) AS target_h,
      |  CAST(CAST(CASE WHEN mx <= 224 THEN width
      |       ELSE greatest(1, (width * 224) // mx) END AS BIGINT)
      |    * CAST(CASE WHEN mx <= 224 THEN height
      |       ELSE greatest(1, (height * 224) // mx) END AS BIGINT) * 3
      |    AS BIGINT) AS out_bytes
      |FROM t ORDER BY doc_id""".stripMargin

  /** #154 — the feature-EXTRACT stage the ANN family consumes: a
    * deterministic 8-dim feature vector per media record, derived
    * from the decode stage's payload digest (the STUB for a real
    * vision/audio encoder — md5 bytes normalized to [0, 1]; the
    * Spark-side plumbing — typed schema, one "encoder" per
    * partition, row-per-dimension output — is real). Emitted at
    * (doc_id, dim, value) grain so the oracle compares scalars, and
    * so the array form is one `collect_list` away for
    * `Graft.validateEmbeddings` / the ANN operators.
    */
  def embedStage(media: Dataset[MediaRecord],
      dims: Int = 8): Dataset[MediaEmbedding] = {
    // the stub reads 2 hex chars per dimension from the 32-char md5 —
    // fail fast at plan time instead of a StringIndexOutOfBounds deep
    // inside an executor task (ADVICE r11)
    require(dims >= 1 && dims <= 16,
      s"embedStage dims must be in [1, 16] (md5 supplies 16 byte pairs), got $dims")
    import media.sparkSession.implicits._
    media.where(col("payload").isNotNull).mapPartitions { records =>
      // per-partition "encoder" lifecycle (a real vision model loads
      // its weights once here)
      val md = java.security.MessageDigest.getInstance("MD5")
      records.flatMap { r =>
        // REAL-CODEC path (r15): a valid P6 payload embeds over its
        // actual luma plane ([[PpmCodec.embedPixels]] — `dims`
        // horizontal band means); the md5 stub keeps serving non-PPM
        // payloads only
        PpmCodec.decodeP6(r.payload) match {
          case Some(img) =>
            PpmCodec.embedPixels(img, dims).iterator.zipWithIndex.map {
              case (v, d) => MediaEmbedding(r.doc_id, d, v) }
          case None =>
            md.reset()
            val hex = md.digest(r.payload).map(b => f"${b & 0xff}%02x").mkString
            (0 until dims).iterator.map { d =>
              val v = Integer.parseInt(hex.substring(2 * d, 2 * d + 2), 16)
              MediaEmbedding(r.doc_id, d, v / 255.0)
            }
        }
      }
    }
  }

  /** #154 gate query — every value reproduces in DuckDB from the md5
    * hex digits (the #146 instr-digit table; the gate corpus's
    * payloads are text bytes, so the stub tower is the one exercised
    * — the pixel tower is MultimodalSpec's golden-image territory).
    */
  def qMultimodalEmbed(spark: SparkSession, dir: String): DataFrame =
    embedStage(mediaTable(spark, dir))
      .toDF()
      .select("doc_id", "dim", "value")
      .orderBy("doc_id", "dim")

  /** #157 — perceptual AVERAGE-HASH stage (aHash, the publicly
    * documented integer-only image fingerprint): the decoded luma
    * plane resamples to an 8×8 grid, each cell averages, and bit i is
    * 1 iff cell i's average exceeds the global average — 64 bits that
    * survive re-encoding, resizing, and small edits, which is exactly
    * what byte-exact #25 dedup cannot see on media.
    *
    * STUB boundary (the [[decodeFeatures]] contract): a real
    * deployment decodes image bytes and resamples actual luma here;
    * this environment has no codecs, so the "decoded plane" is the
    * payload byte stream itself, segmented into 64 equal runs (the
    * dimension-INVARIANCE a real aHash gets from resampling is
    * emulated by hashing the payload alone — identical payloads at
    * different stored dims hash identically, and a few edited bytes
    * flip at most a few cells). All comparisons are exact integer
    * cross-multiplications (cellSum·n vs totalSum·cellCount) — no
    * floating point, so the hash is bit-stable across partitionings
    * and platforms (spec-pinned).
    */
  /** The aHash, shared by the batch stage and the streaming ingest
    * twin so the two can never drift. Null/empty plane → 0L.
    *
    * REAL-CODEC path (r15): a payload that parses as a complete P6
    * image ([[PpmCodec.decodeP6]] — strict, so document text can
    * never false-positive) hashes over its ACTUAL decoded luma plane
    * resampled into the 8×8 grid ([[PpmCodec.aHashPixels]]); the
    * byte-run stub below now serves only non-PPM payloads, whose
    * codecs this environment lacks.
    */
  private[graft] def aHash(payload: Array[Byte]): Long = {
    PpmCodec.decodeP6(payload) match {
      case Some(img) => return PpmCodec.aHashPixels(img)
      case None =>
    }
    val p = if (payload == null) Array.emptyByteArray else payload
    val n = p.length
    var phash = 0L
    if (n > 0) {
      val cellSum = new Array[Long](64)
      val cellCnt = new Array[Long](64)
      var i = 0
      while (i < n) {
        // cell = floor(i*64/n): contiguous equal runs, no overflow
        // for n ≤ 2^57
        val c = ((i.toLong * 64L) / n).toInt
        cellSum(c) += p(i) & 0xff
        cellCnt(c) += 1
        i += 1
      }
      var totalSum = 0L
      var c = 0
      while (c < 64) { totalSum += cellSum(c); c += 1 }
      c = 0
      while (c < 64) {
        // cellAvg > globalAvg  ⇔  cellSum·n > totalSum·cellCnt.
        // Both products can exceed 2^63 once 255·n²/64 does (payloads
        // ≳ 1.5 GB), so compare in 128 bits: signed high words first
        // (all factors are non-negative), then unsigned low words.
        if (cellCnt(c) > 0) {
          val hiL = Math.multiplyHigh(cellSum(c), n.toLong)
          val hiR = Math.multiplyHigh(totalSum, cellCnt(c))
          val gt =
            if (hiL != hiR) hiL > hiR
            else java.lang.Long.compareUnsigned(
              cellSum(c) * n, totalSum * cellCnt(c)) > 0
          if (gt) phash |= (1L << c)
        }
        c += 1
      }
    }
    phash
  }

  def phashStage(media: Dataset[MediaRecord]): Dataset[MediaPhash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      // per-partition "decoder" lifecycle, as in decodeFeatures
      records.map(r => MediaPhash(r.doc_id, aHash(r.payload)))
    }
  }

  /** Image NEAR-dup pairs at Hamming radius ≤ `hammingMax` over the
    * aHash — the #28 banded machinery applied to media
    * ([[graft.operators.Dedup.hammingNearDupPairs]]: 7-chunk/4-subset
    * keys, perfect recall at radius 3 by pigeonhole, collision-safe
    * key space at any corpus size). Spec-pinned on planted media:
    * a re-stored copy (same bytes, different dims) lands at distance
    * 0 and a few edited bytes within radius; unrelated media stay
    * apart (MultimodalSpec).
    */
  def imagePhashPairs(media: Dataset[MediaRecord],
      hammingMax: Int = 3): DataFrame =
    Dedup.hammingNearDupPairs(
      phashStage(media).toDF(), "doc_id", "phash", hammingMax)

  /** #157 gate query — perceptual EXACT dedup of the media column:
    * one row per record with its aHash, the canonical (min) doc_id
    * among records sharing that hash, and the dup flag — the #25
    * window shape keyed on the 64-bit perceptual signature instead of
    * the byte-exact md5, which is what catches a re-encoded or
    * re-dimensioned copy whose BYTES differ but whose decoded plane
    * matches. One shuffle on an 8-byte key at any scale. Rows-only
    * gate (DuckDB cannot fold over blob bytes); hash stability and
    * the radius-3 near-dup ball are spec-pinned via
    * [[imagePhashPairs]] on planted duplicate media.
    */
  def qImagePhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    phashStage(mediaTable(spark, dir)).toDF()
      .withColumn("canonical_id", min("doc_id").over(w))
      .select(col("doc_id"), col("phash"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** 8-dim stub embedding reconstructed COLUMN-SIDE from an md5 hex
    * string (no UDF: conv() per hex pair, array() assembly — all
    * codegen'd), value-identical to [[embedStage]]'s row-per-dim
    * output collected to an array FOR NON-PPM PAYLOADS (the gate
    * corpora; since r15 a P6 payload embeds over real pixels in
    * [[embedStage]], which this md5 reconstruction cannot see — a
    * PPM-bearing deployment routes both #158 towers through the same
    * real encoder, exactly as the swap-the-stub contract states).
    * Shared by the #158 query's two encoder towers.
    */
  private def md5Vec(md5Col: Column): Column =
    array((0 until 8).map { d =>
      (conv(substring(md5Col, 2 * d + 1, 2), 16, 10).cast("double") / 255.0)
    }: _*)

  /** The #158 stub TEXT tower as a reusable column: the md5-derived
    * 8-dim embedding of a text column — deterministic, aligned with
    * the media tower by construction, and the encoder stand-in the
    * RAG composition ([[graft.api.Graft.chunkIndex]]) plugs in where
    * a deployment plugs a real model. Identical texts embed
    * identically (cosine 1), which is what the composition's specs
    * exploit.
    */
  private[graft] def textTowerVec(textCol: Column): Column =
    md5Vec(md5(textCol.cast("binary")))

  /** #158 — `q_crossmodal_topk`: text-query → media top-k retrieval,
    * the CLIP-retrieval shape: a TEXT tower embeds the query string,
    * a MEDIA tower embeds the stored media, and retrieval is cosine
    * top-k across the modality boundary. The stub towers are ALIGNED
    * by construction — both are the md5-derived 8-dim vector
    * ([[embedStage]]), the text tower from md5(query text), the media
    * tower from the decode stage's payload digest — which is the
    * premise a real contrastively-trained encoder pair provides; swap
    * the two md5 stubs for real encoders and nothing else changes.
    *
    * Plan shape = #30's exact baseline: broadcast the 10-query text
    * side against the media corpus (linear scan, no shuffle of the
    * big side), per-query window rank, keep k=5, self excluded (the
    * aligned stub makes self trivially rank 1). Cosine goes through
    * the codegen'd ascending-fold `cosine_sim`, so float outputs
    * hash-match the oracle's `list_reduce` reconstruction exactly
    * (the #30/#154 tricks composed). At scale the media tower feeds
    * the #73 IVF index instead of the brute scan — AnnSpec pins that
    * path's recall on these same vectors.
    */
  def qCrossmodalTopk(spark: SparkSession, dir: String): DataFrame = {
    val media = decodeFeatures(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), md5Vec(col("payload_md5")).as("v"))
    val q = Tables.documents(spark, dir)
      // null text = no query vector (the tower cannot embed absent
      // bytes) — mirrors the media tower's decode quarantine
      .where(col("doc_id") < 10 && col("text").isNotNull)
      .select(col("doc_id").as("q_id"), md5Vec(md5(col("text").cast("binary"))).as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("doc_id"))
    media.crossJoin(broadcast(q))
      .where(col("doc_id") =!= col("q_id"))
      .withColumn("cos", call("cosine_sim", col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("q_id", "rank", "doc_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** #158 oracle — both towers reconstructed from md5 hex digits (the
    * #154 instr-digit table) and the cosine from the same ascending
    * left folds as the #30 oracle, at dim 8.
    */
  val qCrossmodalTopkSql: String = {
    def fold(terms: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
    """WITH vecs AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 8), d ->
      |      ((instr('0123456789abcdef', substr(md5(text), 2*d + 1, 1)) - 1) * 16
      |       + (instr('0123456789abcdef', substr(md5(text), 2*d + 2, 1)) - 1)) / 255.0) AS v
      |  FROM documents WHERE text IS NOT NULL),
      |q AS (SELECT doc_id AS q_id, v AS qv FROM vecs WHERE doc_id < 10),
      |scored AS (
      |  SELECT q_id, doc_id,
      |    FOLD_DOT
      |     / (sqrt(FOLD_QQ) * sqrt(FOLD_VV)) AS cos
      |  FROM q JOIN vecs ON doc_id <> q_id),
      |ranked AS (
      |  SELECT q_id, doc_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, doc_id, cos FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replace("FOLD_DOT", fold("qv[i] * v[i]"))
      .replace("FOLD_QQ", fold("qv[i] * qv[i]"))
      .replace("FOLD_VV", fold("v[i] * v[i]"))
  }

  val qMultimodalEmbedSql: String =
    """SELECT doc_id, CAST(d AS INT) AS dim,
      |  ((instr('0123456789abcdef', substr(md5(text), 2*d + 1, 1)) - 1) * 16
      |   + (instr('0123456789abcdef', substr(md5(text), 2*d + 2, 1)) - 1)) / 255.0
      |    AS value
      |FROM documents, (SELECT unnest(range(8)) AS d) AS ds
      |WHERE text IS NOT NULL
      |ORDER BY doc_id, dim""".stripMargin

  val qMultimodalFramesSql: String =
    """SELECT doc_id,
      |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
      |  CAST(ceil(ceil(octet_length(encode(text)) / 64.0) / 4.0) AS BIGINT) AS n_sampled
      |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin

  /** #157's oracle (hash-gated since r15 — previously rows-only under
    * "DuckDB cannot fold over blob bytes"; it can, via `hex(encode())`
    * + the #146 instr-digit table at BYTE grain): re-derives every
    * byte-run aHash — byte values from hex pairs, the (i·64)/n cell
    * map, exact integer cross-multiplied thresholds, two's-complement
    * bit 63 (Java's `1L << 63` is negative; the HUGEINT sum casts
    * back to the same BIGINT) — then the #25 canonical-min window.
    * NULL/empty payloads hash to 0 on both engines. The gate corpus
    * exercises the byte-run (non-PPM) path; the pixel path stays
    * golden-pinned in MultimodalSpec (DuckDB could replay it too, but
    * the gate payloads are text).
    */
  val qImagePhashDedupSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |bytes AS (
      |  SELECT doc_id, n, CAST(i AS BIGINT) AS i,
      |    CAST((instr('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
      |       + (instr('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS BIGINT) AS v
      |  FROM b CROSS JOIN LATERAL (SELECT unnest(range(0, n)) AS i) t
      |  WHERE n > 0),
      |cells AS (
      |  SELECT doc_id, n, (i * 64) // n AS cell,
      |    CAST(sum(v) AS BIGINT) AS cs, CAST(count(*) AS BIGINT) AS cc
      |  FROM bytes GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, n, CAST(sum(cs) AS BIGINT) AS ts FROM cells GROUP BY 1, 2),
      |ph AS (
      |  SELECT c.doc_id,
      |    CAST(sum(CASE WHEN c.cs * c.n > t.ts * c.cc THEN
      |      CASE WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |           ELSE CAST(CAST(1 AS BIGINT) << CAST(c.cell AS INT) AS HUGEINT) END
      |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS phash
      |  FROM cells c JOIN tot t ON c.doc_id = t.doc_id GROUP BY 1),
      |allp AS (
      |  SELECT d.doc_id, COALESCE(p.phash, 0) AS phash
      |  FROM documents d LEFT JOIN ph p ON d.doc_id = p.doc_id)
      |SELECT doc_id, phash,
      |  min(doc_id) OVER (PARTITION BY phash) AS canonical_id,
      |  doc_id <> min(doc_id) OVER (PARTITION BY phash) AS is_dup
      |FROM allp ORDER BY doc_id""".stripMargin

  val qMultimodalMetaSql: String =
    """SELECT doc_id,
      |  (['png', 'jpeg', 'wav'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
      |  CAST(32 * (doc_id % 16 + 1) AS INT) AS width,
      |  CAST(32 * (doc_id % 9 + 1) AS INT) AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
      |  md5(text) AS payload_md5
      |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin
}
