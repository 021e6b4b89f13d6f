package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.SqlFunctions.call

/** A behavior-log event as seen by the streaming layer (`ts` is the
  * event-time column watermarks attach to; `ts_us` the epoch-micros
  * mirror used for arithmetic).
  */
case class LogEvent(
    event_id: Long,
    user_id: Long,
    event_type: String,
    ts: java.sql.Timestamp,
    ts_us: Long,
    value: Double,
    props: String)

case class FirstVisit(user_id: Long, day: String, event_id: Long, ts_us: Long)

case class Jump(user_id: Long, event_id: Long, ts_us: Long)

/** Per-user state for daily-first-visit dedup: the days already
  * emitted (bounded by the state TTL / event-time timeout).
  */
case class DayState(days: Seq[String])

/** Per-user state for jump detection: the view event awaiting its
  * follow-up (sentinel ids when empty).
  */
case class PendingView(event_id: Long, ts_us: Long)

/** One row of the unioned, tagged as-of input stream (#74): rights are
  * the reference series (dim updates / views), lefts the events to
  * enrich (facts / purchases). `ts` is the watermark column, `ts_us`
  * its epoch-micros mirror.
  */
case class AsofEvent(key: Long, ts: java.sql.Timestamp, ts_us: Long,
    is_right: Boolean, id: Long, value: Double)

/** Per-key as-of state: buffered rights (ts_us, id, value) and lefts
  * (ts_us, id) not yet finalized by the watermark.
  */
case class AsofBuf(rights: Seq[(Long, Long, Double)],
    lefts: Seq[(Long, Long)])

/** A finalized left with its as-of right (sentinels −1/−1/0.0 when the
  * key had no right at-or-before the left's time).
  */
case class AsofOut(key: Long, id: Long, ts_us: Long,
    right_id: Long, right_ts_us: Long, right_value: Double)

/** One row of the unioned, tagged interval-join input: a view
  * (`is_view`) or a purchase. `ts` is the watermark column, `t_us` its
  * epoch micros (what the match condition compares), `ts_us` the
  * event's own micros (what `gap_us` subtracts).
  */
case class IntervalEvent(user_id: Long, ts: java.sql.Timestamp, t_us: Long,
    ts_us: Long, is_view: Boolean, id: Long)

/** Per-user interval-join buffers of (t_us, ts_us, id): views a
  * not-yet-late purchase can still match, and purchases a
  * not-yet-late view can still match.
  */
case class IntervalBuf(views: Seq[(Long, Long, Long)],
    purchases: Seq[(Long, Long, Long)])

case class IntervalPair(view_id: Long, purchase_id: Long, user_id: Long,
    gap_us: Long)

/** Structured Streaming equivalents of the reference's streaming apps
  * (SURVEY.md §2.1 #16-20). Each op is a pure stream→stream transform
  * (readStream → op → writeStream), so specs drive them with
  * MemoryStream and production wires them to any source/sink.
  *
  * Scale notes: every stateful op keys by user_id — state is
  * hash-partitioned across executors and bounded via watermark-driven
  * event-time timeouts (the Spark-native replacement for the
  * reference's keyed-state TTLs, UniqueVisitApp.java:44-50). Windowed
  * aggregation state is bounded by the watermark; the interval join
  * buffers only the watermark-deep tail of each side.
  */
object Streams {

  /** The dedup-memory horizon shared by [[dedupChunks]]'s watermark
    * delay AND its state-timeout arithmetic — one constant so the two
    * cannot drift (see the r14 review note inside dedupChunks).
    */
  private[streaming] val dedupHorizonMs: Long = 3600L * 1000

  /** #16 — BaseLogApp (BaseLogApp.java:33-116): validity-check + route
    * one log stream into page / start / dirty. Pure per-row projection
    * (stateless — runs at source parallelism; identical semantics to
    * the batch q_etl_json_route).
    */
  def routeLogs(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("route",
        when(col("k").isNull || col("user_id").isNull, "dirty")
          .when(col("event_type") === "error", "dirty")
          .when(col("event_type") === "signup", "start")
          .otherwise("page"))

  /** Multi-sink side of #16: one parquet dir per route (the side-output
    * pattern — dirty records get a dead-letter sink instead of being
    * dropped, BaseLogApp.java:32-45). Each route write lands in a
    * batch-id-scoped subdirectory with overwrite semantics, so a
    * replayed micro-batch (crash before checkpoint commit) rewrites the
    * same directories instead of appending duplicates — idempotent
    * without a transactional sink.
    */
  def writeRouted(routed: DataFrame, outDir: String, checkpointDir: String) =
    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        Seq("page", "start", "dirty").foreach { r =>
          batch.filter(col("route") === r)
            .write.mode("overwrite").parquet(s"$outDir/route=$r/batch=$batchId")
        }
        batch.unpersist(); ()
      }

  /** #57 — BaseDBApp's CDC routing as a stream transform: the
    * reference applies the op-type rule IN-STREAM (BaseDBApp.java:
    * 31-33 filters `type == "delete"` off the CDC stream before the
    * broadcast-config route). Stateless per-row transform + stream-
    * static broadcast join — runs at source parallelism, zero state.
    * Identical semantics to the batch `q_cdc_route`
    * ([[graft.operators.Etl.cdcRouted]] is the SAME function;
    * StreamingSpec pins stream output == batch output on the same
    * events).
    */
  def cdcRoute(events: DataFrame): DataFrame =
    graft.operators.Etl.cdcRouted(events)

  /** #60 — PII scrub-on-ingest: the #59 redaction as a stream
    * transform, so a pipeline can scrub BEFORE anything lands in a
    * sink (the usual compliance requirement — raw PII never at rest).
    * Stateless per-row regex projection, source parallelism, zero
    * state; [[graft.operators.Text.piiScrubbed]] is the SAME function,
    * StreamingSpec pins stream == batch on the same rows.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Text.piiScrubbed(docs, idCol, textCol)

  /** #93 — mixture-sampling-on-ingest: the #91 data-mixing step as a
    * stream transform, so a pipeline can apply the training-mix rates
    * AT ingest instead of materializing the raw corpus first. The
    * rates config is a static 20-row frame, so this is a stream-static
    * broadcast join + per-row integer-threshold filter — stateless,
    * source parallelism, zero state; keep/drop depends only on
    * (id, stratum), so micro-batch boundaries cannot matter.
    * [[graft.api.Graft.mixtureSample]] is the SAME function;
    * StreamingSpec pins stream == batch on the same rows.
    */
  def mixtureSample(docs: DataFrame, idCol: String, stratumCol: String,
      ratesBp: Map[String, Long]): DataFrame =
    graft.api.Graft.mixtureSample(docs, idCol, stratumCol, ratesBp)

  /** #97 — streaming data profile: the #95 readout maintained over an
    * ingest stream (complete-mode aggregate — the profile is one row
    * per column, so "state" is k fixed-size sketch buffers, bounded
    * forever). The EXACT flavor is structurally impossible here
    * (distinct aggregates are unsupported on streams — they would
    * need unbounded per-value state); the HLL flavor is THE streaming
    * form, and because HLL merge is commutative and associative with
    * the estimate a pure function of the merged registers, the
    * streaming result equals the batch `approx = true` profile
    * EXACTLY — not approximately — however the rows were split into
    * micro-batches. StreamingSpec pins that equality.
    */
  def profile(docs: DataFrame, cols: Seq[String]): DataFrame =
    graft.operators.Profile.profile(docs, cols, approx = true)

  /** #64 — contamination-check-on-ingest: the #58 benchmark-overlap
    * verdict as a stream transform, so an ingest pipeline can flag (or
    * drop) eval-set leaks BEFORE they land in the training corpus —
    * the decontamination analogue of [[piiScrub]]'s scrub-at-ingest.
    *
    * The batch core counts overlap with an explode + join + per-doc
    * aggregate; a streaming aggregate would force watermark semantics
    * onto what is logically a PER-ROW verdict (each doc arrives once,
    * its overlap depends on nothing else in the stream). So the stream
    * form restates it aggregation-free: the benchmark vocabulary
    * (distinct xxhash64'd shingles — small by design, it broadcasts in
    * #58 too) rides in as a one-row static frame, and each doc's
    * overlap is `size(array_intersect(its shingle hashes, vocab))` —
    * stateless, source parallelism, zero state, batch boundaries
    * cannot matter. Both sides dedupe within-doc shingles
    * (word_shingles + array_intersect), so the count is the same
    * distinct-overlap statistic; StreamingSpec pins stream output ==
    * batch `q_contamination` on the same rows. Same output contract as
    * #58: docs with ≥1 overlap, their count, and the ≥ `minOverlap`
    * verdict.
    */
  def contaminationCheck(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minOverlap: Long = graft.operators.Corpus.ContaminationK): DataFrame = {
    // persisted: the static side of a stream-static join re-executes
    // every micro-batch — without the cache a long-running ingest
    // stream would re-shingle and re-aggregate the whole benchmark per
    // batch, dominating small batches
    val vocab = benchmark
      .select(explode(call("word_shingle_hashes", col(textCol), lit(n))).as("s"))
      .agg(collect_set(col("s")).as("_vocab"))
      .persist()
    docs
      .crossJoin(broadcast(vocab))
      // fused shingle+hash (r21): the per-row transform(...,xxhash64)
      // HOF ran INTERPRETED on every streamed doc; same longs, codegen
      .withColumn("n_overlap",
        size(array_intersect(
          call("word_shingle_hashes", col(textCol), lit(n)),
          col("_vocab"))).cast("long"))
      .where(col("n_overlap") >= 1)
      .select(col(idCol).as("id"), col("n_overlap"),
        (col("n_overlap") >= minOverlap).as("contaminated"))
  }

  /** #66 — range-join-on-ingest: tag each streamed point row with the
    * static intervals containing it — the stream form of
    * [[graft.api.Graft.rangeJoin]] (enriching an event stream against
    * a campaign/maintenance-window table, where the window table has
    * no equi key to join on). The bucketed reformulation is stateless
    * DataFrame algebra, so it runs unchanged on a stream: the static
    * interval side explodes to its buckets per micro-batch, the join
    * is stream-static equi on the bucket id, exact bounds filter as a
    * residual — zero streaming state, no watermark, batch boundaries
    * cannot matter (StreamingSpec pins stream == batch on the same
    * rows). Intervals must be static (a stream-stream range join needs
    * watermarked interval state — a different operator).
    */
  def rangeJoin(points: DataFrame, pointCol: String, intervals: DataFrame,
      loCol: String, hiCol: String, bucketWidth: Long): DataFrame = {
    // a streaming interval side would silently become a stream-stream
    // join Spark accepts WITHOUT watermarks — unbounded state, arrival-
    // order-dependent output; fail fast instead
    require(!intervals.isStreaming,
      "Streams.rangeJoin needs a STATIC intervals frame; for a streaming " +
        "intervals side use rangeJoinStream (watermarked interval state)")
    graft.api.Graft.rangeJoin(points, pointCol, intervals, loCol, hiCol,
      bucketWidth)
  }

  /** #70 — STREAM-STREAM range join: both the point stream and the
    * interval stream are unbounded (ad impressions joined to campaign
    * windows that are themselves announced on a stream). The batch
    * reformulation carries over — intervals explode to fixed-width
    * buckets, points key to one bucket, exact bounds as residual — but
    * the join becomes a watermarked stream-stream equi join and the
    * interval buffer becomes engine-managed state, so two extra
    * contracts are needed to keep that state BOUNDED:
    *
    *  - both sides carry event-time columns derived from the integral
    *    domain (`timestamp_micros` — the domain unit is declared to be
    *    microseconds by the caller choosing `maxSpanMicros`), each
    *    watermarked with its caller-chosen lateness;
    *  - every interval must span ≤ `maxSpanMicros` (fail-fast
    *    `assert_true` riding inside the explode operand, the batch
    *    operator's guard pattern) — this is what turns containment
    *    into the two-sided event-time range condition
    *    `iv_ts ≤ pt_ts ≤ iv_ts + maxSpan` the engine needs to compute
    *    a state watermark for BOTH buffers: interval state older than
    *    the point watermark minus the span is evicted, point state is
    *    evicted by the interval watermark symmetrically.
    *
    * A point pairs with every interval containing it exactly once (it
    * lives in one bucket), so no dedup — same as batch. Output equals
    * the batch [[graft.api.Graft.rangeJoin]] on the union of all
    * micro-batches for rows inside the watermark (StreamingSpec pins
    * it); rows later than the lateness budgets are dropped, which is
    * the streaming contract, not a defect.
    */
  def rangeJoinStream(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Long, maxSpanMicros: Long,
      pointsLateness: String = "10 seconds",
      intervalsLateness: String = "10 seconds"): DataFrame = {
    require(points.isStreaming && intervals.isStreaming,
      "rangeJoinStream is the stream-stream form; use Streams.rangeJoin " +
        "for a static intervals side")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxSpanMicros > 0,
      s"maxSpanMicros must be positive, got $maxSpanMicros")
    def fdiv(name: String): Column =
      expr(s"(`$name` - pmod(`$name`, ${bucketWidth}L)) div ${bucketWidth}L")
    val spanOk = assert_true(
      col(hiCol) - col(loCol) <= lit(maxSpanMicros),
      lit(s"rangeJoinStream: an interval spans > $maxSpanMicros micros; " +
        "widen maxSpanMicros deliberately or clean sentinel hi values " +
        "(unbounded spans would make the join state unbounded)"))
    val pt = points
      .withColumn("_bucket_pt", fdiv(pointCol))
      .withColumn("_pt_ts", timestamp_micros(col(pointCol)))
      .withWatermark("_pt_ts", pointsLateness)
    val iv = intervals
      .where(col(loCol) <= col(hiCol))
      .withColumn("_bucket_iv",
        explode(sequence(fdiv(loCol), when(spanOk.isNull, fdiv(hiCol)))))
      .withColumn("_iv_ts", timestamp_micros(col(loCol)))
      .withWatermark("_iv_ts", intervalsLateness)
    pt.join(iv,
      col("_bucket_pt") === col("_bucket_iv") &&
        col("_pt_ts") >= col("_iv_ts") &&
        col("_pt_ts") <= col("_iv_ts") +
          expr(s"INTERVAL $maxSpanMicros MICROSECONDS") &&
        col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bucket_pt", "_bucket_iv", "_pt_ts", "_iv_ts")
  }

  /** #74 — STREAMING as-of join: enrich each left event with the same
    * key's most recent right event at-or-before it, on unbounded
    * streams — the temporal/last-touch join the batch
    * [[graft.api.Graft.asofJoin]] provides, which Structured Streaming
    * has no native form of (its stream-stream joins need a BOUNDED
    * time-range condition; as-of lookback is unbounded).
    *
    * Input is the two streams unioned and tagged ([[AsofEvent]]) —
    * the same union trick as the batch operator, moved into keyed
    * state: per key, `flatMapGroupsWithState` buffers rights and
    * pending lefts; a left is FINALIZED (emitted exactly once, with
    * the latest right ≤ its time, ties inclusive and broken by max
    * id exactly as the batch tie-break) only when the watermark has
    * passed it, so no earlier right can still arrive. An event-time
    * timeout re-fires the key when the watermark passes its earliest
    * pending left, so quiet keys flush without new input.
    *
    * State is bounded on both sides: rights before the watermark
    * collapse to ONE row (the newest — the only one any future left
    * can see, since future lefts are ≥ the watermark); pending lefts
    * drain at the watermark by construction; a key with no pending
    * lefts keeps its carried right for `rightTtlMs` and is then
    * dropped whole (the dim-cache TTL of the reference's async dim
    * lookup).
    */
  def asofJoinStream(events: Dataset[AsofEvent],
      lateness: String = "10 seconds",
      rightTtlMs: Long = 24L * 3600 * 1000): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofBuf, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[AsofEvent], state: GroupState[AsofBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val st = state.getOption.getOrElse(AsofBuf(Nil, Nil))
          val arrivals = it.toVector
          val rights0 = (st.rights ++ arrivals.filter(_.is_right)
            .map(e => (e.ts_us, e.id, e.value))).distinct
            .sortBy(r => (r._1, r._2))
          val lefts = (st.lefts ++ arrivals.filterNot(_.is_right)
            .map(e => (e.ts_us, e.id))).distinct.sorted
          // finalize lefts STRICTLY below the watermark: a right that
          // could still change them would be at-or-before their time,
          // hence strictly late, hence dropped by the engine
          val (ready, pending) = lefts.partition(_._1 < wmUs)
          val out = ready.map { case (lts, lid) =>
            rights0.foldLeft(Option.empty[(Long, Long, Double)]) {
              (acc, r) => if (r._1 <= lts) Some(r) else acc
            } match {
              case Some((rts, rid, rv)) => AsofOut(key, lid, lts, rid, rts, rv)
              case None => AsofOut(key, lid, lts, -1L, -1L, 0.0)
            }
          }
          // rights before the watermark collapse to the newest one
          val keepIdx = rights0.lastIndexWhere(_._1 <= wmUs)
          val rights = if (keepIdx <= 0) rights0 else rights0.drop(keepIdx)
          if (state.hasTimedOut && arrivals.isEmpty && ready.isEmpty &&
              pending.isEmpty) {
            // PURE idle wake (the TTL registered when nothing was
            // pending): drop the carried right. A timeout that flushed
            // lefts must NOT land here — its key keeps the carried
            // right for lefts still to come
            state.remove()
          } else if (pending.isEmpty && rights.isEmpty) {
            state.remove()
          } else {
            state.update(AsofBuf(rights, pending))
            val wake = pending.headOption
              .map(_._1 / 1000 + 1)
              .getOrElse(state.getCurrentWatermarkMs() + rightTtlMs)
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** #17 — UniqueVisitApp (UniqueVisitApp.java:37-71): per-user daily
    * first-visit dedup. Keyed state = the set of days already emitted,
    * expired by event-time timeout once the watermark passes the last
    * day (the ValueState + 24h TTL of the reference).
    */
  def uniqueVisits(events: Dataset[LogEvent]): Dataset[FirstVisit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 day")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DayState, FirstVisit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[LogEvent], state: GroupState[DayState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.map(_.days.toSet).getOrElse(Set.empty)
            val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val out = Vector.newBuilder[FirstVisit]
            var days = seen
            var maxTs = 0L
            sorted.foreach { e =>
              val day = java.time.Instant.ofEpochMilli(e.ts_us / 1000)
                .toString.substring(0, 10)
              if (!days.contains(day)) {
                days += day
                out += FirstVisit(userId, day, e.event_id, e.ts_us)
              }
              maxTs = math.max(maxTs, e.ts_us)
            }
            // bound state for continuously-active users: days below the
            // watermark horizon can never re-emit (older events are
            // filtered before reaching this function), so keep only the
            // last two days instead of an ever-growing set
            val horizon = java.time.Instant.ofEpochMilli(maxTs / 1000)
              .minus(java.time.Duration.ofDays(1))
              .toString.substring(0, 10)
            state.update(DayState(days.filter(_ >= horizon).toSeq.sorted))
            // expire the whole key one day after its newest event
            state.setTimeoutTimestamp(maxTs / 1000 + 24L * 3600 * 1000)
            out.result().iterator
          }
      }
  }

  /** #18 — OrderWideApp/PaymentWideApp interval join
    * (OrderWideApp.java:84-90): views joined to the same user's
    * purchases within the following 10 minutes
    * (`v_ts < p_ts <= v_ts + 10 min`), each side watermarked 10
    * minutes behind its own newest event, the global watermark the
    * minimum of the two.
    *
    * One keyed-state operator, not a stream-stream join: the two
    * inputs are tagged and unioned ([[IntervalEvent]]) and one
    * `flatMapGroupsWithState` keyed by `user_id` holds both sides'
    * buffers — the [[asofJoinStream]] pattern. A native stream-stream
    * join keeps four state stores per shuffle partition (each side's
    * `keyToNumValues` and `keyWithIndexToValue`); this keeps one, so a
    * micro-batch commits a quarter of the state-store files and plans
    * no join. Each pair is emitted once, when its later side arrives.
    *
    * State bound: a view stays buffered while `v_ts + 10 min` is at or
    * past the watermark, a purchase while `p_ts` is past it — after
    * that any partner would be late and dropped by the engine. A key
    * whose buffers are empty is removed by its event-time timeout, so
    * state holds only the users with a view or purchase in the last
    * 10 minutes plus the lateness (StreamingSpec reads that bound from
    * the operator's own `numRowsTotal`).
    *
    * 100 TB path: state is hash-partitioned by user and each key's
    * buffers are bounded by the watermark, not by history; a hot key
    * costs O(its buffer) per arrival, as in the native join.
    *
    * Rows with a null `user_id`, `ts` or `ts_us` are dropped (the
    * equi-join never matched them); rows at or behind the watermark
    * are dropped by the engine and counted in the operator's
    * `numRowsDroppedByWatermark`.
    */
  def intervalJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val spark = views.sparkSession
    import spark.implicits._
    val TenMinUs = 10L * 60 * 1000 * 1000
    def tagged(df: DataFrame, isView: Boolean): Dataset[IntervalEvent] = df
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("ts_us").isNotNull)
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("t_us"), col("ts_us").cast("long"),
        lit(isView).as("is_view"), col("event_id").cast("long").as("id"))
      .withWatermark("ts", "10 minutes")
      .as[IntervalEvent]
    tagged(views, isView = true).union(tagged(purchases, isView = false))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IntervalBuf, IntervalPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[IntervalEvent],
            state: GroupState[IntervalBuf]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000
          val st = state.getOption.getOrElse(IntervalBuf(Nil, Nil))
          val (newV, newP) = it.toVector.partition(_.is_view)
          val arrivedV = newV.map(e => (e.t_us, e.ts_us, e.id))
          val arrivedP = newP.map(e => (e.t_us, e.ts_us, e.id))
          val allV = st.views ++ arrivedV
          def pairs(vs: Seq[(Long, Long, Long)], ps: Seq[(Long, Long, Long)]) =
            for {
              (vt, vus, vid) <- vs
              (pt, pus, pid) <- ps
              if vt < pt && pt <= vt + TenMinUs
            } yield IntervalPair(vid, pid, user, pus - vus)
          // every new pair once: new purchases against all views, new
          // views against the purchases buffered before this batch
          val out = pairs(allV, arrivedP) ++ pairs(arrivedV, st.purchases)
          val keptV = allV.filter(_._1 + TenMinUs >= wmUs)
          val keptP = (st.purchases ++ arrivedP).filter(_._1 > wmUs)
          if (keptV.isEmpty && keptP.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(IntervalBuf(keptV, keptP))
            // wake once the watermark has passed every buffered row:
            // a view when wm_ms > (v + 10 min) / 1000, a purchase when
            // wm_ms >= p / 1000 (both rounded for integral wm_ms)
            val wake = math.max(
              keptV.map(v => Math.floorDiv(v._1 + TenMinUs, 1000L))
                .maxOption.getOrElse(0L),
              keptP.map(p => Math.floorDiv(p._1 - 1, 1000L))
                .maxOption.getOrElse(0L))
            state.setTimeoutTimestamp(math.max(wake, wmMs + 1))
          }
          out.iterator
      }
      .toDF()
  }

  /** #19 — VisitorStatsApp (VisitorStatsApp.java:41-152): event-time
    * tumbling-window multi-measure aggregation per cohort dimension.
    * Exact distincts are not available incrementally — the streaming
    * path uses HLL (approx_count_distinct), the documented trade vs the
    * batch q_visitor_stats.
    */
  def visitorStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("pv"),
        approx_count_distinct("user_id").as("uv_approx"),
        sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("pv"), col("uv_approx"), col("value_sum"))

  /** #84 — hopping-window visitor stats, the streaming twin of
    * q_sliding_window (#77): 1 h windows sliding every 30 min. The
    * overlap factor (len/slide = 2) multiplies STATE, not input — each
    * event updates two window groups and the watermark retires both on
    * the same horizon, so state stays 2× the tumbling form's, still
    * watermark-bounded. Exact per-window distincts are not available
    * incrementally; HLL is the documented trade (as #19, #40).
    */
  def slidingVisitorStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        approx_count_distinct("user_id").as("users_approx"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("events"), col("users_approx"))

  /** #44 — streaming exact dedup: the streaming twin of
    * q_dedup_exact (content-identity dedup, same normalized-text md5
    * fingerprint), for ingest pipelines that must drop duplicate
    * documents as they arrive rather than in a batch pass.
    *
    * `dropDuplicatesWithinWatermark` rather than `dropDuplicates`: the
    * unbounded variant retains every fingerprint ever seen — state
    * grows with corpus size and cannot survive 100 TB of ingest. The
    * watermark-bounded variant keeps only the fingerprints inside the
    * watermark horizon, trading re-admission of duplicates that arrive
    * further apart than the horizon (callers compact periodically with
    * the batch q_dedup_exact — the classic lambda repair).
    */
  def dedupDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), " +", " "))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")

  /** #165's streaming twin — passage-grain exact dedup at INGEST:
    * chunk each arriving doc with the SHARED
    * [[graft.operators.Corpus.chunkRows]] (stateless generator; the
    * event-time column rides through the explode, which is what lets
    * the chunk rows watermark), fingerprint each chunk with the
    * SHARED #25 content normalization, then a watermark-bounded
    * first-arrival drop keyed on the chunk fingerprint. Emits the
    * SURVIVING chunk rows — what flows on to an index writer
    * ([[graft.api.Graft.chunkIndex]]'s grain).
    *
    * The keeper is DETERMINISTIC (r13 verdict item 6): within a
    * micro-batch a dup group's survivor is the LOWEST
    * (`idCol`, chunk_id) — the batch #165 election rule — via keyed
    * state (`flatMapGroupsWithState`) instead of
    * `dropDuplicatesWithinWatermark`, whose in-batch pick is
    * arbitrary; so with in-order arrival the stream's survivor SET
    * equals the batch keeper set IDENTITY-exactly (spec-pinned),
    * and a replay debug session sees the same rows batch and stream.
    * Requires an integral id column (the corpus contract).
    *
    * Same state contract as [[dedupDocs]]: one timeout-carrying
    * entry per fingerprint inside the watermark horizon (ingest
    * volume cannot grow state), far-apart duplicate passages
    * re-admit, and the periodic batch `q_chunk_dedup` compacts them
    * — the lambda repair.
    */
  def dedupChunks(docs: DataFrame, window: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts"): DataFrame = {
    // ONE horizon constant feeds BOTH the watermark delay and the
    // state-timeout arithmetic — they encode the same dedup-memory
    // contract and must never drift apart (r14 review finding: two
    // independent "1 hour" literals could be edited separately,
    // silently changing state-expiry semantics).
    val horizonMs = dedupHorizonMs
    val horizonDelay = s"$horizonMs milliseconds"
    val chunks = graft.operators.Corpus
      .chunkRows(docs, idCol, textCol, window, stride)
      // dirty-record rule at the state boundary: a null event time
      // can neither watermark nor expire (the keeper fold below
      // reads .getTime) — drop it here, stated, not with an NPE
      .where(col(tsCol).isNotNull)
      .withColumn("fp",
        md5(graft.operators.Dedup.contentNormOf(col("chunk_text"))))
      .withWatermark(tsCol, horizonDelay)
    val schema = chunks.schema
    // the corpus contract requires an INTEGRAL id column; validate at
    // plan time so a NON-integral id (string, decimal, …) fails
    // loudly here — integral non-Long widths are ACCEPTED and read
    // via Number.longValue below — never as a ClassCastException
    // inside the state function (r14 review finding)
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(schema(idCol).dataType),
      s"dedupChunks requires an integral $idCol column, got " +
        schema(idCol).dataType.simpleString)
    val idIdx = schema.fieldIndex(idCol)
    val chunkIdx = schema.fieldIndex("chunk_id")
    val tsIdx = schema.fieldIndex(tsCol)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    chunks
      .groupByKey(r => r.getAs[String]("fp"))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Long, org.apache.spark.sql.Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state: GroupState[Long]) =>
          if (!it.hasNext) {
            // pure timeout wake: the horizon passed — forget the
            // fingerprint (the dropDuplicatesWithinWatermark state
            // contract, stated explicitly)
            if (state.hasTimedOut) state.remove()
            Iterator.empty
          } else {
            val rows = it.toVector
            val newest = rows.iterator
              .map(_.getAs[java.sql.Timestamp](tsIdx).getTime).max
            // timeouts must land strictly past the watermark
            val expire = math.max(newest + horizonMs,
              state.getCurrentWatermarkMs() + 1)
            if (state.exists) {
              val e = math.max(state.get, expire)
              state.update(e)
              state.setTimeoutTimestamp(e)
              Iterator.empty
            } else {
              state.update(expire)
              state.setTimeoutTimestamp(expire)
              // getAs[Number].longValue: the id column is validated
              // integral above but may be any width (Int, Short, …)
              Iterator.single(rows.minBy(r =>
                (r.getAs[Number](idIdx).longValue,
                  r.getAs[Number](chunkIdx).longValue)))
            }
          }
      }
  }

  /** #157's streaming twin — perceptual image dedup at INGEST: the
    * aHash computed in a per-partition decoder stage (the shared
    * [[graft.operators.Multimodal.aHash]] byte math, so batch and
    * stream signatures can never drift), then the #44
    * watermark-bounded drop keyed on the 8-byte hash. Same state
    * contract as [[dedupDocs]]: only hashes inside the watermark
    * horizon are retained (100 TB of ingest cannot grow the state),
    * duplicates arriving further apart re-admit and the periodic
    * batch `q_image_phash_dedup` compacts them — the lambda repair.
    * A re-encoded or re-dimensioned copy whose BYTES differ but whose
    * decoded plane matches is dropped; byte-exact streaming dedup
    * (#44) cannot see those.
    */
  def dedupMediaPhash(media: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", tsCol: String = "ts"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media
      .select(col(idCol).cast("long"), col(tsCol).cast("timestamp"),
        col(payloadCol).cast("binary"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder lifecycle (a real codec instantiates here)
        it.map { case (id, ts, p) =>
          (id, ts, graft.operators.Multimodal.aHash(p))
        }
      }
      .toDF(idCol, tsCol, "phash")
    hashed
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("phash")
  }

  /** #48 — KeywordStatsApp as a stream (KeywordStatsApp.java:30-59):
    * tokenize → event-time tumbling window → per-(word, source)
    * counts. The split/explode is a stateless generator running at
    * source parallelism; the only state is the windowed count, bounded
    * by the watermark.
    */
  def keywordStats(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(window(col("ts"), "1 hour"), col("word"), col("source"))
      .agg(count(lit(1)).as("ct"))
      .select(col("window.start").as("window_start"),
        col("word"), col("source"), col("ct"))

  /** #49 — ProductStatsApp as a stream (ProductStatsApp.java:67-319):
    * per-product windowed multi-measure sums with dimension
    * enrichment. The dim attach is a stream-STATIC broadcast join
    * (stateless — the Spark-native form of the reference's async dim
    * lookup) applied BEFORE the windowed aggregate; money sums stay
    * DECIMAL so emitted results are partitioning-independent.
    */
  def productStats(lines: DataFrame, part: DataFrame): DataFrame =
    lines
      .withWatermark("ts", "30 days")
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(window(col("ts"), "90 days"), col("l_partkey"), col("p_brand"))
      .agg(
        count(lit(1)).as("item_ct"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("quantity_sum"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).as("amount_sum"))
      .select(col("window.start").as("window_start"), col("l_partkey"),
        col("p_brand"), col("item_ct"), col("quantity_sum"), col("amount_sum"))

  /** #50 — ProvinceStatsSqlApp as a stream
    * (ProvinceStatsSqlApp.java:34-53): per-nation windowed order count
    * + revenue over an ORDER-GRAIN stream (the same pre-aggregated
    * grain the batch #11 uses, so the distinct-order count is a plain
    * count), dims attached via stream-static broadcast joins.
    */
  def provinceStats(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    orders
      .withWatermark("ts", "30 days")
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(window(col("ts"), "90 days"), col("n_name"))
      // money through DECIMAL like every other op — a raw double sum
      // would make `amount` depend on accumulation order
      .agg(count(lit(1)).as("order_ct"),
        sum(col("rev").cast("decimal(12,2)")).as("amount"))
      .select(col("window.start").as("window_start"), col("n_name"),
        col("order_ct"), col("amount"))

  /** #45 — streaming sessionization, the streaming twin of the batch
    * q_sessionize: Spark's native `session_window` merges events into
    * gap-bounded event-time windows incrementally, with state bounded
    * by the watermark (an open session older than the watermark
    * horizon finalizes and evicts).
    *
    * Boundary nuance, documented rather than papered over: session
    * windows merge on strict overlap, so an event arriving EXACTLY at
    * the 30-minute gap opens a new session here, while the batch
    * lag()-based formulation (`gap > 30 min` starts a session) keeps
    * it in the old one. At microsecond event-time resolution the tie
    * is a measure-zero case; the spec asserts exact agreement on the
    * test events (which contain no exact-gap tie).
    */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        min("ts_us").as("session_start_us"),
        count(lit(1)).as("n_events"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .select(col("user_id"), col("session_start_us"),
        col("n_events"), col("duration_us"))

  /** #20 — UserJumpDetailApp CEP (UserJumpDetailApp.java:54-104): a
    * view with no follow-up event within 10 minutes is a jump. The
    * two-pattern CEP is re-expressed as keyed state: the last view
    * waits either for the next event (gap check) or for the event-time
    * timeout (the reference's `within(10s)` timer).
    */
  def userJumps(events: Dataset[LogEvent]): Dataset[Jump] = {
    import events.sparkSession.implicits._
    val TenMinUs = 10L * 60 * 1000 * 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PendingView, Jump](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[LogEvent], state: GroupState[PendingView]) =>
          if (state.hasTimedOut) {
            val p = state.get
            state.remove()
            Iterator.single(Jump(userId, p.event_id, p.ts_us))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val out = Vector.newBuilder[Jump]
            var pending = state.getOption
            sorted.foreach { e =>
              // a late event older than the pending view is not its
              // follow-up (in event-time order it PRECEDES the view) —
              // it must neither satisfy nor cancel the pending state.
              // Accepted approximation: such a late-yet-within-watermark
              // VIEW is also discarded — it never becomes a jump
              // candidate itself (a recall gap for out-of-order data;
              // exact event-time CEP would buffer per-key events until
              // the watermark, trading state for completeness)
              if (!pending.exists(p => e.ts_us < p.ts_us)) {
                pending.foreach { p =>
                  if (e.ts_us - p.ts_us > TenMinUs) out += Jump(userId, p.event_id, p.ts_us)
                }
                pending = if (e.event_type == "view") Some(PendingView(e.event_id, e.ts_us)) else None
              }
            }
            pending match {
              case Some(p) =>
                state.update(p)
                state.setTimeoutTimestamp(p.ts_us / 1000 + TenMinUs / 1000 + 1)
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** #83 — streaming dup-cluster MAINTENANCE: each micro-batch of
    * documents pairs against the corpus ingested so far
    * ([[graft.api.Graft.incrementalDedupPairs]] — candidate volume
    * linear in the batch) and the new edges contract onto the stored
    * labeling ([[graft.api.Graft.mergeComponents]] — CC over the
    * batch-sized contracted graph only). The labeling state after N
    * batches equals `connectedComponents` over every pair the full
    * corpus generates (spec-pinned), without any batch ever re-pairing
    * or re-clustering the whole corpus — the ingest-time form of the
    * batch `q_dup_clusters`/`q_dup_clusters_incremental` pipeline.
    *
    * State layout under `statePath` (both writes keyed by batch id, so
    * foreachBatch replays OVERWRITE their own output instead of
    * duplicating — crash anywhere, replay converges):
    *  - `corpus/batch=<id>/` — each ingested batch (the pair
    *    generator's base side reads `batch < id`, so a replayed batch
    *    never pairs against its own half-written copy);
    *  - `labels/v=<id>/` — the labeling AFTER batch id; the latest
    *    version is current, older ones are pruned after a successful
    *    write. Re-merging a replayed batch is a fixpoint: its edges
    *    contract to self-loops on the already-merged labeling.
    *
    * With a finite `dfCap` the capped vocabulary is evaluated against
    * the corpus AS OF each batch (exactly like the gated
    * `q_dedup_incremental`), so a pair admitted early stays in the
    * labeling even if its shingle later exceeds the cap — the
    * documented drift vs a from-scratch capped re-cluster, repaired by
    * a periodic batch rebuild (the same lambda-repair contract as
    * `stream_dedup_exact`).
    */
  def dupClusterSink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, tau: Double = 0.8,
      dfCap: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDupClusterBatch(batch, batchId, statePath, idCol, textCol,
          n, tau, dfCap)
      }

  /** One maintenance step of [[dupClusterSink]] (package-visible so the
    * spec can drive replay scenarios directly).
    */
  private[graft] def applyDupClusterBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, textCol: String, n: Int,
      tau: Double, dfCap: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val corpusRoot = new Path(root, "corpus")
    val labelsRoot = new Path(root, "labels")
    val b = batch.select(col(idCol), col(textCol)).persist()
    try {
      if (b.isEmpty) return
      val base =
        if (fs.exists(corpusRoot))
          spark.read.parquet(corpusRoot.toString)
            .where(col("batch") < batchId).select(col(idCol), col(textCol))
        else b.limit(0)
      val pairs = graft.api.Graft
        .incrementalDedupPairs(base, b, idCol, textCol, n, tau, dfCap)
        .select("id_new", "id_old")
      val merged = latestLabels(spark, fs, labelsRoot) match {
        case Some(lab) =>
          graft.api.Graft.mergeComponents(lab, pairs, "id_new", "id_old")
        case None =>
          graft.api.Graft.connectedComponents(pairs, "id_new", "id_old")
      }
      // merged derives from labels/v=<prior> which the prune below
      // deletes — materialize before any state is touched
      val out = merged.localCheckpoint(true)
      b.write.mode("overwrite")
        .parquet(new Path(corpusRoot, s"batch=$batchId").toString)
      out.write.mode("overwrite")
        .parquet(new Path(labelsRoot, s"v=$batchId").toString)
      fs.listStatus(labelsRoot)
        .filter { s =>
          val v = versionOf(s.getPath.getName)
          s.isDirectory && v.exists(_ < batchId)
        }
        .foreach(s => fs.delete(s.getPath, true))
    } finally b.unpersist()
  }

  /** #136 — `stream_keeper_quality`: #129's keeper election AT
    * INGEST — the per-cluster best-quality keeper maintained across
    * micro-batches on top of [[dupClusterSink]]'s cluster state.
    * Reference analogue: the keyed first-wins ValueState dedup
    * (UniqueVisitApp.java:37) lifted to cluster grain with a quality
    * key instead of arrival order.
    *
    * Each non-empty batch: (1) the [[dupClusterSink]] maintenance step
    * VERBATIM (the shared code path — the two sinks cannot drift);
    * (2) the batch's #33 quality scores land map-side under
    * `quality/batch=<id>` (overwrite-by-batchId = replay-safe);
    * (3) keepers are re-elected from the latest labeling ⋈ the quality
    * store with #129's struct-max — `(coalesce(score,−1), −id)` keys:
    * NULL-scored docs lose, ties go to the smaller id — written to
    * `keepers/v=<id>`, older versions pruned after the write.
    *
    * Replay (at-least-once foreachBatch) is a fixpoint on the CONSUMED
    * state: the cluster step contracts to self-loops on the merged
    * labeling, the quality overwrite is content-identical, and
    * re-election over unchanged (labels, quality) state yields
    * unchanged content — a replayed OLDER batch writes a content-equal
    * `keepers/v=<old>` below the current version, which stays latest.
    *
    * Scale: the election joins labels (cluster members only) against a
    * two-narrow-column quality store — strictly below the pair-
    * generation text scan the cluster step already pays per batch. A
    * doc re-ingested under the same id competes with each of its
    * scores (no upsert at this grain; re-crawl versioning is #121's
    * job).
    */
  def keeperQualitySink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, tau: Double = 0.8,
      dfCap: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyKeeperQualityBatch(batch, batchId, statePath, idCol, textCol,
          n, tau, dfCap)
      }

  /** One maintenance step of [[keeperQualitySink]] (package-visible so
    * the spec can drive replay scenarios directly).
    */
  private[graft] def applyKeeperQualityBatch(batch: DataFrame,
      batchId: Long, statePath: String, idCol: String, textCol: String,
      n: Int, tau: Double, dfCap: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .persist()
    try {
      if (b.isEmpty) return
      applyDupClusterBatch(b, batchId, statePath, "doc_id", "text",
        n, tau, dfCap)
      val root = new Path(new Path(statePath).toUri.getPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualityRoot = new Path(root, "quality")
      graft.operators.Text.withQuality(b)
        .select(col("doc_id"), col("quality_score"))
        .write.mode("overwrite")
        .parquet(new Path(qualityRoot, s"batch=$batchId").toString)
      val labels = latestLabels(spark, fs, new Path(root, "labels"))
        .getOrElse(return)
      val quality = spark.read.parquet(qualityRoot.toString)
        .select(col("doc_id"), col("quality_score"))
      val keepers = labels
        .join(quality, labels("id") === quality("doc_id"))
        .groupBy("component_id")
        .agg(
          max(struct(
            coalesce(col("quality_score"), lit(-1.0)).as("k"),
            (-col("id")).as("t"),
            col("id").as("keeper_id"),
            col("quality_score").as("keeper_score"))).as("w"),
          max("component_size").as("cluster_size"))
        .select(col("component_id").as("cluster_id"),
          col("w.keeper_id").as("keeper_id"),
          col("w.keeper_score").as("keeper_score"), col("cluster_size"),
          (col("cluster_size") - 1).as("n_dropped"))
        // derives from labels/v=<prior> and the store this step also
        // mutates — materialize before touching keeper state
        .localCheckpoint(true)
      val keepersRoot = new Path(root, "keepers")
      keepers.write.mode("overwrite")
        .parquet(new Path(keepersRoot, s"v=$batchId").toString)
      fs.listStatus(keepersRoot)
        .filter { s =>
          val v = versionOf(s.getPath.getName)
          s.isDirectory && v.exists(_ < batchId)
        }
        .foreach(s => fs.delete(s.getPath, true))
    } finally b.unpersist()
  }

  /** Latest keeper election maintained by [[keeperQualitySink]]
    * (None before the first non-empty batch).
    */
  def keeperState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestLabels(spark, fs, new Path(root, "keepers"))
  }

  /** #105 — `stream_dedup_semantic`: per-micro-batch SemDeDup ingest
    * (the streaming twin of `q_dedup_semantic`/#103 via
    * `Graft.semanticDedupIncremental`/#104). Centroids are FIXED —
    * fit once on a seed corpus ([[graft.api.Graft.kmeansCentroids]]);
    * drift against a fresher fit is repaired by a periodic batch
    * refit, the same lambda-repair contract as `stream_dedup_exact`
    * and `dupClusterSink`'s capped vocabulary.
    *
    * State layout under `statePath` (exactly-once by overwrite-by-
    * batchId, the [[dupClusterSink]] scheme):
    *  - `index/batch=<id>/` — the batch's cell assignments
    *    `(id, cell, vec)`; the store side of every later ingest. The
    *    base read takes `batch < id`, so a replayed batch never pairs
    *    against its own half-written copy;
    *  - `verdicts/batch=<id>/` — that batch's drop list
    *    `(vec_id, cell, dup_of_ct, max_cos)`; replay overwrites the
    *    same partition, so verdicts stay exactly-once downstream.
    *
    * Scale shape per ingest: the batch assigns cells via the
    * broadcast argmax, the store joins keyed on cell and is scanned
    * once; everything that shuffles is O(batch) (#104's contract —
    * store the index with [[graft.api.Graft.writeIvfIndex]] bucketing
    * when it outgrows plain parquet and the store side stops
    * shuffling entirely).
    */
  def semanticDedupSink(vectors: DataFrame, centroids: DataFrame,
      statePath: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "v",
      tau: Double = 0.45)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySemanticBatch(batch, batchId, centroids, statePath,
          idCol, vecCol, tau)
      }

  /** #164's streaming twin — IVF index BALANCE maintained while
    * vectors ARRIVE: per batch, ONE cell-grain integer contraction
    * `(cell, n)` lands replay-safely under `cells/batch=<id>`
    * (overwrite-by-batchId — the [[domainStatsSink]] scheme), where
    * `cell` is the batch's broadcast-argmax assignment against the
    * FROZEN serving centroids ([[graft.api.Graft.ivfIndex]], the
    * shared stage — ingest and the periodic batch #164 cannot
    * disagree about what cell a vector is in). Counts are
    * integer-additive under ANY batch split, so [[ivfBalanceState]]
    * folds partials into EXACTLY the batch per-cell readout, plus
    * the same imbalance scalar [[graft.api.Graft.ivfImbalance]]
    * computes — the live dial a deployment watches to decide when
    * ingest has skewed the index enough to refit (cells only ever
    * grow between refits; the fold stays ≤ #cells rows whatever the
    * ingest volume).
    */
  def ivfBalanceSink(vectors: DataFrame, centroids: DataFrame,
      statePath: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "v")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIvfBalanceBatch(batch, batchId, centroids, statePath,
          idCol, vecCol)
      }

  /** One maintenance step of [[ivfBalanceSink]] (package-visible so
    * the spec can drive replay directly). */
  private[graft] def applyIvfBalanceBatch(batch: DataFrame, batchId: Long,
      centroids: DataFrame, statePath: String, idCol: String,
      vecCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    if (batch.isEmpty) return
    // usable-vector filter, the #161/validateEmbeddings convention the
    // batch #164 readout states: a vector with no defined cosine
    // (NULL / dim-mismatched / zero-norm) must not be counted —
    // ivfIndex's max_by would otherwise fall through its all-NULL
    // ordering to the tie field and deterministically pile every
    // poisoned vector into the LOWEST cent_id's cell, faking skew and
    // spuriously triggering refits. Tested as a non-NULL cosine
    // against the first serving centroid (centroids share one dim and
    // are usable by construction) PLUS an explicit null-element
    // check: cosine_sim reads a NULL element as 0.0 and still yields
    // a cosine, but the batch readout's filter (!exists isNull)
    // excludes such vectors — the reconciliation demands both.
    val cv0 = centroids.select(col("cv").cast("array<double>"))
      .head.getSeq[Double](0)
    val v = col(vecCol).cast("array<double>")
    val usable = batch.select(col(idCol), col(vecCol))
      .where(!exists(v, x => x.isNull) &&
        call("cosine_sim", v,
          array(cv0.map(lit): _*)).isNotNull)
    graft.api.Graft.ivfIndex(usable,
        idCol, vecCol, centroids, "cent_id", "cv")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .write.mode("overwrite")
      .parquet(new Path(root, s"cells/batch=$batchId").toString)
  }

  /** The balance readout after the last completed batch —
    * column-for-column the batch `q_ivf_cell_balance` schema
    * `(cell, n_vecs, share)`. None before the first batch. */
  def ivfBalanceState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val croot = new Path(new Path(statePath).toUri.getPath, "cells")
    val fs = croot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(croot)) return None
    Some(graft.operators.Similarity.cellBalanceFromCounts(
      spark.read.parquet(croot.toString)
        .groupBy("cell").agg(sum("n").as("n_vecs"))))
  }

  /** #185 — `stream_dedup_winnow`: char-grain near-dup verdicts at
    * INGEST — each arriving batch winnow-fingerprints itself
    * ([[graft.api.Graft.winnowIndex]], the codegen'd sketch pass) and
    * pairs against the fingerprint store via the SAME
    * `incrementalPairsStored` machinery the word-shingle ingest
    * (#61) uses, so a reformatted copy of an already-stored document
    * is flagged the moment it arrives. State layout under `statePath`
    * (exactly-once by overwrite-by-batchId, the [[semanticDedupSink]]
    * scheme):
    *  - `index/batch=<id>/` — the batch's `(id, shingle)` winnow
    *    index rows; the store side of every later ingest (base reads
    *    `batch < id`, so a replayed batch never pairs against its own
    *    half-written copy);
    *  - `verdicts/batch=<id>/` — that batch's near-dup pairs
    *    `(id_new, id_old, inter, jaccard)` against the store and
    *    within-batch smaller ids.
    *
    * Per-ingest shuffles are O(batch) against the store scan; write
    * the index with [[graft.api.Graft.writeShingleIndex]]-style
    * bucketing when it outgrows plain parquet and the store side
    * stops shuffling entirely (the #61 discipline, unchanged — the
    * winnow index is format-identical by construction, #183).
    *
    * DF-CAP CONTRACT (probe 43, r20): `dfCap` is evaluated
    * AS-OF-INGEST — against the store-so-far plus the arriving batch
    * — while the one-shot batch `winnowPairs` caps on GLOBAL df.
    * Fold == one-shot therefore holds exactly iff no fingerprint
    * crosses the cap mid-history (witnessed exact at ×10 mass with
    * the cap above the corpus max df,
    * bench_evidence/probe43_stateful_mass_x10.log); under a BINDING
    * cap, verdicts delivered before a fingerprint crossed it stand
    * as computed then (at ×10 with the default cap, pair SETS stay
    * near-identical but ~half the shared/jaccard values reflect the
    * earlier, smaller capped universe — measured in the same log).
    * Verdicts are facts about ingest time, never retroactively
    * re-scored; re-run the batch query for a point-in-time global
    * view. The same contract applies to every df-capped incremental
    * pairing consumer: the `incrementalPairsStored` ingest twins
    * (#61/#124/#133) and — through their cluster stage at the gate
    * dial dfCap = 64 — [[dupClusterSink]]/[[keeperQualitySink]]/
    * [[trainingManifestSink]] (probe 43 measured the manifest drift
    * at ×10, where 3-gram dfs reach 250; at ≤×2 mass the cap never
    * binds and the fold is witnessed exact).
    */
  def winnowDedupSink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = graft.operators.Dedup.WinnowK,
      w: Int = graft.operators.Dedup.WinnowW,
      tau: Double = graft.operators.Dedup.WinnowTau,
      dfCap: Int = graft.operators.Dedup.WinnowDfCap.toInt)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyWinnowBatch(batch, batchId, statePath, idCol, textCol,
          k, w, tau, dfCap)
      }

  /** One ingest step of [[winnowDedupSink]] (package-visible so the
    * spec can drive replay directly). */
  private[graft] def applyWinnowBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, textCol: String, k: Int,
      w: Int, tau: Double, dfCap: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexRoot = new Path(root, "index")
    if (batch.isEmpty) return
    val bIdx = graft.api.Graft
      .winnowIndex(batch.select(col(idCol), col(textCol)), idCol, textCol, k, w)
      .localCheckpoint(true)
    val base =
      if (fs.exists(indexRoot))
        spark.read.parquet(indexRoot.toString)
          .where(col("batch") < batchId).select("id", "shingle")
      else bIdx.limit(0)
    val verdicts = graft.api.Graft
      .incrementalDedupPairsIndexed(base, bIdx, tau, dfCap)
      .localCheckpoint(true)
    bIdx.write.mode("overwrite")
      .parquet(new Path(indexRoot, s"batch=$batchId").toString)
    verdicts.write.mode("overwrite")
      .parquet(new Path(root, s"verdicts/batch=$batchId").toString)
  }

  /** Every near-dup verdict delivered so far — `(id_new, id_old,
    * inter, jaccard)` across all completed batches. None before the
    * first batch. */
  def winnowVerdicts(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val vroot = new Path(new Path(statePath).toUri.getPath, "verdicts")
    val fs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vroot)) return None
    Some(spark.read.parquet(vroot.toString)
      .select("id_new", "id_old", "inter", "jaccard"))
  }

  /** #180 — `stream_pq_usage`: the #178 PQ code-usage dial maintained
    * while vectors ARRIVE, with a FROZEN codebook (the #130/#168
    * frozen-artifact pattern: the codebook is a versioned fit
    * artifact; ingest encodes against it without refitting, so ingest
    * and the periodic batch readout cannot disagree about what a code
    * means). Per batch ONE (subspace, code) integer contraction lands
    * replay-safely under `usage/batch=<id>` (overwrite-by-batchId).
    * Counts are integer-additive under ANY batch split — the frozen
    * codebook makes the encode a pure per-vector function — so
    * [[pqUsageState]] folds partials into EXACTLY the one-shot
    * [[graft.api.Graft.pqEncode]] usage aggregate, `share` re-derived
    * from the folded integers (one division, bit-identical). The fold
    * stays ≤ m×k rows whatever the ingest volume; per-batch cost is
    * the batch's broadcast encode. (The GATE #178 additionally applies
    * the #31 zero-norm exclusion on top of the encode's dim/null/NaN
    * rule — reconcile against the facade, as the spec does.)
    */
  def pqUsageSink(vectors: DataFrame, codebooks: DataFrame,
      statePath: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "v")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPqUsageBatch(batch, batchId, codebooks, statePath,
          idCol, vecCol)
      }

  /** One maintenance step of [[pqUsageSink]] (package-visible so the
    * spec can drive replay directly). */
  private[graft] def applyPqUsageBatch(batch: DataFrame, batchId: Long,
      codebooks: DataFrame, statePath: String, idCol: String,
      vecCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    if (batch.isEmpty) return
    // pqEncode applies the PQ usable rule (declared dim, no null/NaN
    // element) itself — poisoned ingest simply produces no code row
    graft.api.Graft.pqEncode(batch.select(col(idCol), col(vecCol)),
        idCol, vecCol, codebooks)
      .select(posexplode(col("codes")).as(Seq("subspace", "code")))
      .groupBy("subspace", "code").agg(count(lit(1)).as("n"))
      .write.mode("overwrite")
      .parquet(new Path(root, s"usage/batch=$batchId").toString)
  }

  /** The usage readout after the last completed batch —
    * column-for-column the batch `q_pq_code_usage` schema
    * `(subspace, code, n_vecs, share)`. None before the first batch.
    * The share denominator is the subspace-0 total: every encoded
    * vector carries exactly one code per subspace.
    */
  def pqUsageState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val uroot = new Path(new Path(statePath).toUri.getPath, "usage")
    val fs = uroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(uroot)) return None
    val folded = spark.read.parquet(uroot.toString)
      .groupBy("subspace", "code").agg(sum("n").as("n_vecs"))
    val tot = folded.where(col("subspace") === 0)
      .agg(sum("n_vecs").as("tot"))
    Some(folded.crossJoin(tot)
      .withColumn("share", col("n_vecs").cast("double") / col("tot"))
      .select(col("subspace").cast("int").as("subspace"), col("code"),
        col("n_vecs"), col("share"))
      .orderBy("subspace", "code"))
  }

  /** #207 — `stream_dim_freshness` / `dimEnrichSink`: fact enrichment
    * that FOLLOWS the dim store with micro-batch granularity — the
    * reference's cache-invalidation contract re-expressed (gmall
    * DimSinkFunction.java:29-37 deletes the Redis-cached dim row on a
    * CDC dim UPDATE via DimUtil.delRedisDimInfo, DimUtil.java:39-43,
    * precisely so that facts arriving AFTER the update enrich with
    * the NEW dim row, never a stale cache hit).
    *
    * WHY A PER-BATCH RE-READ AND NOT A STREAM-STATIC JOIN: a static
    * DataFrame on the static side of a stream-static join resolves
    * its parquet FILE LISTING once, when the streaming query starts —
    * a dim snapshot upserted mid-stream is silently invisible to it
    * (and a rewritten file can fail the scan outright). Stream-static
    * is the right tool for genuinely frozen dims (#49's `part` table);
    * for a LIVE dim maintained by [[graft.sinks.Sinks.dimUpsertSink]]
    * or [[graft.sinks.Sinks.cdcApplySink]], the freshness contract
    * maps to reading the store INSIDE foreachBatch —
    * `spark.read.parquet` there resolves a fresh snapshot per
    * micro-batch, so batch N+1's facts see every dim upsert committed
    * before it, exactly like the reference's invalidated cache forces
    * a re-fetch. (Per-batch listing cost is O(dim files) on the
    * driver — dims are small by definition; a 100 TB FACT table is
    * the streaming side and is never re-listed.)
    *
    * Reads either dim-store flavor: a [[graft.sinks.Sinks.cdcApply]]
    * bucketed table (detected by its `_graft_buckets` marker; the
    * `bucket` routing column is dropped) or a plain
    * [[graft.sinks.Sinks.upsert]] snapshot. Facts LEFT-join the dim
    * (broadcast — the dim side is the small side by contract) on
    * `factKey = dimKey`; enriched rows land replay-safely under
    * `enriched/batch=<id>` (overwrite ⟹ at-least-once replay is a
    * fixpoint at the then-current dim — a replay re-enriches at the
    * LATEST snapshot, it does not resurrect the stale dim).
    * [[dimEnrichedState]] unions the landed batches.
    *
    * BROADCAST GUARD (r18 verdict item 3, the cmsDials loud-cap
    * convention): "the dim side is small by contract" is enforced,
    * not assumed — the on-disk dim snapshot is measured per batch and
    * a dim past `maxDimBytes` (default 64 MB of ON-DISK parquet — the
    * cmsDials broadcast-budget convention; the collected heap copy
    * decodes ~5-10× larger) REFUSES loudly, naming the measured size
    * and the decode ratio, instead of
    * OOMing the driver mid-stream. The escape hatch is explicit:
    * `broadcastDim = false` takes a plain (shuffle) left join that
    * never collects or broadcasts — same enriched rows, fact-side
    * exchange per batch as the price, and the dim read is lazy (a
    * swap-window read failure still aborts the batch pre-commit, so
    * the checkpoint never advances past a bad snapshot).
    */
  def dimEnrichSink(facts: DataFrame, dimPath: String, statePath: String,
      checkpointDir: String, factKey: String, dimKey: String,
      maxDimBytes: Long = 64L << 20, broadcastDim: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    facts.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDimEnrichBatch(batch, batchId, dimPath, statePath,
          factKey, dimKey, maxDimBytes, broadcastDim)
      }

  /** One enrichment step of [[dimEnrichSink]] (package-visible so the
    * spec can drive replay directly). */
  private[graft] def applyDimEnrichBatch(batch: DataFrame, batchId: Long,
      dimPath: String, statePath: String, factKey: String,
      dimKey: String, maxDimBytes: Long = 64L << 20,
      broadcastDim: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val droot = new Path(new Path(dimPath).toUri.getPath)
    val fs = droot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(droot),
      s"dimEnrichSink: no dim store at $dimPath — land at least one dim " +
        "batch first (the enriched schema is dim-derived, so an absent " +
        "store cannot default to null columns)")
    // FRESH snapshot per micro-batch — the whole point (see scaladoc).
    // EAGER + RETRIED (r18 ADVICE): the dim maintainers rewrite this
    // directory in place while we read it. upsert/dimUpsertSink go
    // through Sinks.withSwap, whose contract is never-torn-but-
    // briefly-MISSING — a listing/scan hitting the rename window
    // throws, and the retry below covers it. Collecting the (small-by-
    // contract — it broadcasts anyway) dim to a LocalRelation pins ONE
    // consistent snapshot for the whole batch and surfaces any read
    // failure BEFORE the enriched write starts, so the batch fails
    // with the checkpoint UNADVANCED and the foreachBatch replay
    // re-enriches at a good snapshot — a torn/empty enrichment is
    // never silently committed. cdcApply-flavor dims commit per
    // BUCKET: a read during an apply can legally see some buckets old
    // and some new (each bucket internally consistent; a replay
    // converges it) — serialize the apply and the enrichment when
    // cross-bucket point-in-time consistency matters.
    def rawDim(): DataFrame = {
      val dim0 = spark.read.parquet(droot.toString)
      if (fs.exists(new Path(droot, "_graft_buckets"))) dim0.drop("bucket")
      else dim0
    }
    val joined =
      if (broadcastDim) {
        // the size measurement AND the collect both race the swap
        // window, so BOTH live inside the retry (r19 review: the
        // listing previously ran outside it — the exact race the
        // retry claims to cover); the retry is scoped to the
        // TRANSIENT read failures the swap produces (missing dir /
        // vanished files mid-scan), never deterministic errors like
        // schema drift, which must surface immediately
        def readDim(): DataFrame = {
          // loud cap BEFORE the collect: measure the snapshot's
          // on-disk bytes (data files only — markers/_SUCCESS
          // skipped). The cap is COMPRESSED parquet bytes; the
          // driver-heap Row collection typically decodes 5-10×
          // larger, which is why the default cap is 64 MB (the
          // cmsDials broadcast-budget convention), not a heap-sized
          // number — size maxDimBytes against heap/decode-ratio,
          // not against the heap alone
          var bytes = 0L
          val it = fs.listFiles(droot, /*recursive=*/ true)
          while (it.hasNext) {
            val f = it.next()
            val n = f.getPath.getName
            if (!n.startsWith("_") && !n.startsWith(".")) bytes += f.getLen
          }
          require(bytes <= maxDimBytes,
            s"dimEnrichSink: dim snapshot at $dimPath is $bytes bytes " +
              s"on disk > maxDimBytes = $maxDimBytes (on-disk parquet; " +
              "the collected+broadcast heap copy decodes ~5-10x larger) " +
              "— raise maxDimBytes to accept the cost explicitly, or " +
              "pass broadcastDim = false for the plain shuffle-join " +
              "path (same enriched rows, fact-side exchange per batch)")
          val d = rawDim()
          spark.createDataFrame(
            java.util.Arrays.asList(d.collect(): _*), d.schema)
        }
        var attempt = 0
        var dim: DataFrame = null
        while (dim == null) {
          try dim = readDim()
          catch {
            // the retryable class is the swap-window race ONLY: a
            // direct FileNotFoundException/IOException from the
            // snapshot listing, or a SparkException whose CAUSE CHAIN
            // carries a vanished part file (executor-side reads wrap
            // it). Other SparkExceptions — corrupt footer, codegen
            // failure — are deterministic and propagate immediately
            // instead of burning 3 retries + sleeps (r19 ADVICE)
            case e @ (_: java.io.FileNotFoundException |
                      _: java.io.IOException)
                if attempt < 3 =>
              attempt += 1
              Thread.sleep(100L * attempt)
            case e: org.apache.spark.SparkException
                if attempt < 3 && {
                  var c: Throwable = e.getCause
                  var vanished = false
                  while (c != null && !vanished) {
                    vanished = c.isInstanceOf[java.io.FileNotFoundException]
                    c = c.getCause
                  }
                  vanished
                } =>
              attempt += 1
              Thread.sleep(100L * attempt)
          }
        }
        batch.join(
          broadcast(dim.withColumnRenamed(dimKey, factKey)), Seq(factKey),
          "left")
      } else
        // the explicit big-dim path: lazy read, no collect, no
        // broadcast hint — Spark plans the exchange; a swap-window
        // read failure aborts the batch before the write commits
        batch.join(rawDim().withColumnRenamed(dimKey, factKey),
          Seq(factKey), "left")
    joined.write.mode("overwrite")
      .parquet(new Path(root, s"enriched/batch=$batchId").toString)
  }

  /** Everything enriched so far, batch column included — each row
    * carries the dim values AS OF its own micro-batch (the freshness
    * contract made visible). None before the first batch.
    */
  def dimEnrichedState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val eroot = new Path(new Path(statePath).toUri.getPath, "enriched")
    val fs = eroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(eroot)) return None
    Some(spark.read.parquet(eroot.toString))
  }

  /** Collect a small FROZEN artifact (bounds, centroids, codebooks —
    * dim/k-bounded frames fitted offline) to a LocalRelation at sink
    * construction: eager like localCheckpoint but living in the
    * DRIVER's plan, not in non-reliable executor-memory blocks — a
    * long-running stream holding a localCheckpoint dies permanently
    * on any executor loss (the r17 ADVICE finding; shared by
    * [[sqClipSink]] and [[ivfSqIndexSink]]).
    */
  private def freezeLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** #209 — `stream_ivf_sq_ingest` / `ivfSqIndexSink`: the #205
    * IVF × SQ8 index MAINTAINED AT INGEST — the missing production
    * step between "fit offline" and "serve": vectors arriving on a
    * stream are cell-assigned and SQ8-encoded against FROZEN
    * artifacts (centroids + bounds — fit offline on a seed corpus,
    * re-fit on a cadence, the #130/#196 frozen-model rule; both are
    * collected to LocalRelations at sink construction per the r18
    * clip-sink resilience fix) and appended cell-carrying under
    * `index/batch=<id>` (overwrite ⟹ at-least-once replay is a
    * fixpoint). Because the frozen artifacts make encode a PURE
    * per-row function, the maintained index is bit-identical to a
    * one-shot [[graft.api.Graft.ivfSqIndex]] over everything ingested
    * — batch boundaries cannot change any code (StreamingSpec pins
    * fold ≡ one-shot AND served top-k over the state ≡ served over
    * the one-shot index). Append-only corpus semantics (the ANN-index
    * contract); deletes go through a tombstone join at serve time or
    * a periodic rebuild, like every production IVF deployment.
    *
    * The drift companion is [[sqClipSink]] (#201): rising clip rates
    * against the SAME frozen bounds are the signal to re-fit and
    * rebuild. Scale shape: per batch ONE pass over the batch with the
    * ≤k-row centroid and 1-row bounds arrays broadcast; state grows
    * by |batch| rows per batch, readable as a whole or compacted into
    * a cell-bucketed store ([[graft.api.Graft.writeIvfIndex]]) on a
    * cadence.
    */
  def ivfSqIndexSink(vectors: DataFrame, centroids: DataFrame,
      bounds: DataFrame, statePath: String, checkpointDir: String,
      dim: Int, idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cent_id", centVecCol: String = "cv",
      residual: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozenCents = freezeLocal(
      centroids.select(col(centIdCol), col(centVecCol)))
    val frozenBounds = freezeLocal(bounds)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIvfSqBatch(batch, batchId, frozenCents, frozenBounds,
          statePath, dim, idCol, vecCol, centIdCol, centVecCol, residual)
      }
  }

  /** One ingest step of [[ivfSqIndexSink]] (package-visible so the
    * spec can drive replay directly). */
  private[graft] def applyIvfSqBatch(batch: DataFrame, batchId: Long,
      centroids: DataFrame, bounds: DataFrame, statePath: String,
      dim: Int, idCol: String, vecCol: String, centIdCol: String,
      centVecCol: String, residual: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    graft.api.Graft.ivfSqIndex(batch.select(col(idCol), col(vecCol)),
        idCol, vecCol, centroids, centIdCol, centVecCol, bounds, dim,
        residual)
      .write.mode("overwrite")
      .parquet(new Path(root, s"index/batch=$batchId").toString)
  }

  /** The maintained index after the last completed batch — exactly
    * the [[graft.api.Graft.ivfSqIndex]] schema `(id, cell, codes,
    * residual)` (the batch partition column is dropped so the state
    * is bit-comparable to — and directly servable like — a one-shot
    * build; read the `index/` tree directly if a compaction cadence
    * wants per-batch slices). None before the first batch.
    */
  def ivfSqIndexState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val iroot = new Path(new Path(statePath).toUri.getPath, "index")
    val fs = iroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(iroot)) return None
    Some(spark.read.parquet(iroot.toString)
      .select("id", "cell", "codes", "residual"))
  }

  /** #201 — streaming SQ8 clip-rate maintenance: the drift monitor a
    * frozen scalar quantizer needs in production. [[graft.api.Graft
    * .sqBounds]] is fitted once offline; as the distribution drifts
    * past the stale bounds, arriving elements saturate at level 0 or
    * 255 — the clip rate per dimension is the earliest, cheapest
    * signal that the bounds (and every stored code) need a refit.
    * Per micro-batch: encode against the FROZEN bounds (the #196
    * frozen-artifact discipline — poisoned ingest simply produces no
    * code row, per the encode's usable rule), contract to `dim` rows
    * of integer boundary-level counts, land them additively under
    * `clip/batch=<id>` (overwrite ⟹ replay-safe; foreachBatch is
    * at-least-once). [[sqClipState]] folds the partials into the
    * per-dimension readout.
    *
    * At the FIT corpus the boundary levels are legitimately occupied
    * (each dimension's min maps to level 0, its max clamps to 255 by
    * construction), so the baseline clip rate is small but nonzero —
    * the alarm condition is the RATE RISING, not being > 0.
    *
    * Scale shape: per-batch cost is one pass over the batch with the
    * 1-row bounds arrays broadcast plus a dim-bounded contraction;
    * state grows by dim rows per batch and folds map-side on read.
    */
  def sqClipSink(vectors: DataFrame, bounds: DataFrame,
      statePath: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "v")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // materialize the frozen artifact ONCE at sink construction: the
    // caller may pass a lazy sqBounds(corpus) plan, and without this
    // every micro-batch would re-run the corpus-wide min/max fit (plus
    // a count job for dim) — the r17 review's per-batch-recompute
    // finding. Collected to a LocalRelation, NOT localCheckpoint: a
    // localCheckpoint block is non-reliable executor-memory state
    // (lost on executor failure/decommission, incompatible with
    // dynamic allocation), so a long-running clip stream holding one
    // for its whole lifetime dies permanently on any executor loss
    // (r17 ADVICE). The artifact is dim rows — driver-trivial.
    val frozen = freezeLocal(bounds)
    // dim = the frozen artifact's row count; collect() on a
    // LocalRelation is a driver-local array read, no job
    val dim = frozen.collect().length
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySqClipBatch(batch, batchId, frozen, dim, statePath, idCol, vecCol)
      }
  }

  /** One maintenance step of [[sqClipSink]] (package-visible so the
    * spec can drive replay directly). */
  private[graft] def applySqClipBatch(batch: DataFrame, batchId: Long,
      bounds: DataFrame, dim: Int, statePath: String, idCol: String,
      vecCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    // no isEmpty probe (a take(1) job per micro-batch of pure ingest
    // overhead — r17 ADVICE): an empty batch writes an empty partial,
    // which the additive fold in [[sqClipState]] absorbs for free
    graft.api.Graft.sqEncode(batch.select(col(idCol), col(vecCol)),
        idCol, vecCol, bounds, dim)
      .select(posexplode(col("codes")).as(Seq("d", "code")))
      .groupBy("d").agg(
        count(lit(1)).as("n"),
        sum(when(col("code") === lit(-128), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("code") === lit(127), 1L).otherwise(0L)).as("n_hi"))
      .write.mode("overwrite")
      .parquet(new Path(root, s"clip/batch=$batchId").toString)
  }

  /** The clip readout after the last completed batch: per dimension
    * `(d, n_vecs, n_lo, n_hi, lo_rate, hi_rate, clip_rate)` — integer
    * sums folded across batches, rates by one IEEE division each
    * (bit-identical to the one-shot encode aggregate; spec-pinned).
    * None before the first batch.
    */
  def sqClipState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val croot = new Path(new Path(statePath).toUri.getPath, "clip")
    val fs = croot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(croot)) return None
    Some(spark.read.parquet(croot.toString)
      .groupBy("d").agg(sum("n").as("n_vecs"),
        sum("n_lo").as("n_lo"), sum("n_hi").as("n_hi"))
      .select(col("d").cast("int").as("d"), col("n_vecs"),
        col("n_lo"), col("n_hi"),
        (col("n_lo").cast("double") / col("n_vecs")).as("lo_rate"),
        (col("n_hi").cast("double") / col("n_vecs")).as("hi_rate"),
        ((col("n_lo") + col("n_hi")).cast("double") / col("n_vecs"))
          .as("clip_rate"))
      .orderBy("d"))
  }

  /** #203 — streaming Count-Min-Sketch maintenance: the #202
    * frequency sketch folded at ingest. CMS counters are pure
    * additive contractions (`sketch(a ∪ b) = sketch(a) + sketch(b)`
    * bucket-wise — the GraftApiSpec theorem), so the micro-batch fold
    * is EXACT, not approximate-on-top-of-approximate: the maintained
    * sketch is bit-identical to a one-shot [[graft.api.Graft
    * .cmsSketch]] over everything ingested. Per batch: tokenize
    * (whitespace, the #202 grain), sketch the batch at the FROZEN
    * dials, land the depth×width partial under `cms/batch=<id>`
    * (overwrite ⟹ replay-safe). [[cmsState]] folds partials on read
    * and serves estimates via [[graft.api.Graft.cmsEstimate]].
    *
    * This is the corpus-scale term-frequency store an ingest pipeline
    * actually keeps: state is depth×width longs per batch regardless
    * of vocabulary (the exact dictionary the batch #38/#90 shapes
    * materialize would grow with the crawl), and any term's running
    * count is answerable at any point without replaying text.
    *
    * Scale shape: per-batch one pass over the batch text + a
    * dim-bounded contraction; the fold on read is map-side over
    * ≤ batches × depth × width tiny rows.
    */
  def cmsSink(docs: DataFrame, depth: Int, width: Int,
      statePath: String, checkpointDir: String,
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCmsBatch(batch, batchId, depth, width, statePath, textCol)
      }

  /** One maintenance step of [[cmsSink]] (package-visible so the spec
    * can drive replay directly). */
  private[graft] def applyCmsBatch(batch: DataFrame, batchId: Long,
      depth: Int, width: Int, statePath: String, textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    // no isEmpty probe (r17 ADVICE): an empty batch writes an empty
    // marker-bearing partial; [[cmsState]]'s additive fold and
    // cmsEstimate's empty-sketch rule both absorb it
    val words = batch
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    graft.api.Graft.cmsSketch(words, "word", depth, width)
      .write.mode("overwrite")
      .parquet(new Path(root, s"cms/batch=$batchId").toString)
  }

  /** The folded sketch after the last completed batch — the
    * [[graft.api.Graft.cmsSketch]] schema incl. the dial markers
    * (constant across batches: every partial was built at the frozen
    * dials), directly servable by [[graft.api.Graft.cmsEstimate]].
    * None before the first batch.
    */
  def cmsState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val croot = new Path(new Path(statePath).toUri.getPath, "cms")
    val fs = croot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(croot)) return None
    Some(spark.read.parquet(croot.toString)
      .groupBy("d", "bucket", "cms_depth", "cms_width")
      .agg(sum("n").as("n"))
      .select("d", "bucket", "n", "cms_depth", "cms_width"))
  }

  /** One ingest step of [[semanticDedupSink]] (package-visible so the
    * spec can drive replay directly).
    */
  private[graft] def applySemanticBatch(batch: DataFrame, batchId: Long,
      centroids: DataFrame, statePath: String, idCol: String,
      vecCol: String, tau: Double): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexRoot = new Path(root, "index")
    val b = batch.select(col(idCol), col(vecCol)).persist()
    try {
      if (b.isEmpty) return
      val bIdx = graft.api.Graft.ivfIndex(b, idCol, vecCol,
        centroids, "cent_id", "cv").localCheckpoint(true)
      val base =
        if (fs.exists(indexRoot))
          spark.read.parquet(indexRoot.toString)
            .where(col("batch") < batchId).select("id", "cell", "vec")
        else bIdx.limit(0)
      // verdicts against the store-as-of-this-batch plus within-batch
      // smaller ids — the #104 contract; reusing the precomputed bIdx
      // as the "batch" (it carries id/cell/vec, and re-assignment of
      // an already-assigned frame is the identity)
      val verdicts = graft.api.Graft.semanticDedupIncremental(
        base, centroids, "cent_id", "cv",
        bIdx.select(col("id").as(idCol), col("vec").as(vecCol)),
        idCol, vecCol, tau).localCheckpoint(true)
      bIdx.write.mode("overwrite")
        .parquet(new Path(indexRoot, s"batch=$batchId").toString)
      verdicts.write.mode("overwrite")
        .parquet(new Path(root, s"verdicts/batch=$batchId").toString)
    } finally b.unpersist()
  }

  /** #123 — streaming corpus-diff maintenance: the #121 snapshot diff
    * as the NEW snapshot arrives in micro-batches (the shape of a
    * re-crawl landing over hours). The stored OLD snapshot is a
    * bucketed table ([[graft.api.Graft.writeSnapshot]]), so the
    * per-batch status join scans it exchange-free and only the
    * arriving batch shuffles — per-batch cost linear in the batch,
    * never the corpus. Each batch's `added` / `changed` / `unchanged`
    * statuses land replay-safely under `status/batch=<id>` (overwrite;
    * foreachBatch is at-least-once). `removed` is only decidable once
    * the new snapshot is complete: [[corpusDiffSweep]] anti-joins the
    * stored snapshot against every seen id and returns the FULL diff
    * frame — spec-pinned equal to the one-shot
    * [[graft.api.Graft.corpusDiff]] over the same snapshots. Ids must
    * be unique across the whole new-snapshot stream (the #121
    * uniqueness contract, batch-shaped).
    */
  def corpusDiffSink(newRows: DataFrame, snapshotTable: String,
      statePath: String, checkpointDir: String,
      idCol: String = "doc_id", fpCol: String = "fp")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newRows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCorpusDiffBatch(batch, batchId, snapshotTable, statePath,
          idCol, fpCol)
      }

  /** One status step of [[corpusDiffSink]] (package-visible so the
    * spec can drive replay directly).
    */
  private[graft] def applyCorpusDiffBatch(batch: DataFrame, batchId: Long,
      snapshotTable: String, statePath: String, idCol: String,
      fpCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    // Persist before the isEmpty action: foreachBatch frames re-execute
    // their whole micro-batch plan per action, so an unpersisted batch
    // would be computed twice per ingest (the applySemanticBatch rule).
    val b = batch.select(col(idCol).as("id"), col(fpCol).as("fp_new"))
      .where(col("id").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (b.isEmpty) return
      val old = spark.table(snapshotTable)
        .select(col(idCol).as("_old_id"), col(fpCol).as("fp_old"))
      b.join(old, col("id") === col("_old_id"), "left")
        .select(col("id"), col("fp_old"), col("fp_new"),
          when(col("_old_id").isNull, "added")
            .when(col("fp_old") <=> col("fp_new"), "unchanged")
            .otherwise("changed").as("status"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"status/batch=$batchId").toString)
    } finally b.unpersist()
  }

  /** End-of-snapshot sweep for [[corpusDiffSink]]: `removed` = stored
    * ids no batch delivered (LEFT ANTI over the bucketed snapshot —
    * the stored side still never shuffles). Returns the COMPLETE diff
    * frame (per-batch statuses ∪ removed), column-compatible with
    * [[graft.api.Graft.corpusDiff]] minus carry.
    */
  def corpusDiffSweep(spark: org.apache.spark.sql.SparkSession,
      snapshotTable: String, statePath: String,
      idCol: String = "doc_id", fpCol: String = "fp"): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    val old = spark.table(snapshotTable)
      .select(col(idCol).as("id"), col(fpCol).as("fp_old"))
    // A stream that delivered no batches writes no status/ dir; the
    // empty new snapshot is still a valid diff — every stored id is
    // `removed` (the semanticDedupVerdicts missing-dir convention).
    val statusRoot = new Path(root, "status")
    val fs = statusRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses =
      if (!fs.exists(statusRoot))
        spark.emptyDataFrame
          .select(lit(null).cast(old.schema("id").dataType).as("id"),
            lit(null).cast(old.schema("fp_old").dataType).as("fp_old"),
            lit(null).cast(old.schema("fp_old").dataType).as("fp_new"),
            lit(null).cast("string").as("status"))
      else spark.read.parquet(statusRoot.toString)
        .select("id", "fp_old", "fp_new", "status")
    val removed = old.join(statuses.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("fp_old"),
        lit(null).cast(old.schema("fp_old").dataType).as("fp_new"),
        lit("removed").as("status"))
    statuses.unionAll(removed)
  }

  /** #128 — streaming DISTRIBUTION drift: `q_corpus_drift`'s readout
    * maintained while the new snapshot ARRIVES. Each micro-batch
    * contracts to its (source, length-bucket) histogram
    * ([[graft.api.Graft.driftHistogram]] — doc count + token mass,
    * integer-additive) and lands replay-safely under
    * `drift/batch=<id>` (overwrite; foreachBatch is at-least-once).
    * Nothing corpus-sized is ever held: per-batch state is the
    * batch's own |sources|×|buckets| rows. [[corpusDriftSweep]] sums
    * the partials — additivity makes the sum EXACTLY the one-shot
    * histogram whatever the batch boundaries — and applies the #122
    * tail against the old snapshot's histogram (spec-pinned equal to
    * the batch readout, replay-fixpoint-pinned against re-delivery).
    */
  def corpusDriftSink(newRows: DataFrame, statePath: String,
      checkpointDir: String, sourceCol: String = "source",
      tokensCol: String = "n_tokens")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newRows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCorpusDriftBatch(batch, batchId, statePath, sourceCol, tokensCol)
      }

  /** One histogram step of [[corpusDriftSink]] (package-visible so
    * the spec can drive replay directly).
    */
  private[graft] def applyCorpusDriftBatch(batch: DataFrame, batchId: Long,
      statePath: String, sourceCol: String, tokensCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    graft.api.Graft.driftHistogram(batch, sourceCol, tokensCol)
      .write.mode("overwrite")
      .parquet(new Path(root, s"drift/batch=$batchId").toString)
  }

  /** The full drift readout once the new snapshot's stream is done:
    * micro-batch partials summed (exact — integer additivity), then
    * the #122 tail against `oldHist` (a [[graft.api.Graft
    * .driftHistogram]] of the OLD snapshot). A stream that delivered
    * no batches is an empty new snapshot: every old source reads as
    * docs_new = 0 (the [[corpusDiffSweep]] missing-dir convention).
    */
  def corpusDriftSweep(spark: org.apache.spark.sql.SparkSession,
      oldHist: DataFrame, statePath: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath, "drift")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newHist =
      if (!fs.exists(root))
        spark.emptyDataFrame.select(
          lit(null).cast(oldHist.schema("source").dataType).as("source"),
          lit(null).cast("long").as("bucket"),
          lit(null).cast("long").as("n"),
          lit(null).cast("long").as("tok"))
      else spark.read.parquet(root.toString)
        .groupBy("source", "bucket")
        .agg(sum("n").as("n"), sum("tok").as("tok"))
    graft.api.Graft.corpusDriftFromHistograms(oldHist, newHist)
  }

  /** #130 — LM quality scoring AT INGEST: each arriving micro-batch
    * scored against a FROZEN [[graft.api.Graft.unigramModel]] (fit on
    * a seed corpus, re-fit on a cadence — the streaming-centroid
    * lambda rule), scores landing replay-safely under
    * `scores/batch=<id>`. A doc's score depends only on its own text
    * and the model (stateless — [[graft.api.Graft.scoreQualityLm]] is
    * literally the batch function), so micro-batch boundaries cannot
    * change any score and replay is a pure overwrite.
    */
  def qualityLmSink(docs: DataFrame, model: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "qualityLmSink stores scores under batch=<id> partitions; an id " +
        "column named 'batch' would collide with partition discovery — " +
        "rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQualityLmBatch(batch, batchId, model, statePath, idCol, textCol)
      }
  }

  /** One scoring step of [[qualityLmSink]] (package-visible so the
    * spec can drive replay directly).
    */
  private[graft] def applyQualityLmBatch(batch: DataFrame, batchId: Long,
      model: DataFrame, statePath: String, idCol: String,
      textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    // Persist: the scorer's plan references the micro-batch twice (the
    // word explode and the keep-every-id left join), and foreachBatch
    // re-executes the batch per reference (the applyCorpusDiffBatch rule)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      graft.api.Graft.scoreQualityLm(b, model, idCol, textCol)
        .write.mode("overwrite")
        .parquet(new Path(root, s"scores/batch=$batchId").toString)
    finally b.unpersist()
  }

  /** All scores emitted so far by a [[qualityLmSink]] (None before the
    * first completed batch — the [[semanticDedupVerdicts]] convention).
    */
  def qualityLmScores(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val sroot = new Path(new Path(statePath).toUri.getPath, "scores")
    val fs = sroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sroot)) None
    // drop the batch=<id> partition-discovery column — replay
    // provenance, not part of the score contract
    else Some(spark.read.parquet(sroot.toString).drop("batch"))
  }

  /** #196 — discriminative quality-classifier scoring AT INGEST
    * (#195's streaming twin): each arriving micro-batch scored against
    * a FROZEN [[graft.api.Graft.qualityClassifierModel]] (fit offline
    * on a labeled sample, re-fit on a cadence — the [[qualityLmSink]]
    * deployment), scores landing replay-safely under
    * `scores/batch=<id>`. A doc's score depends only on its own text
    * and the broadcast dims+1-row model ([[graft.api.Graft
    * .qualityClassifierScore]] is literally the batch function), so
    * micro-batch boundaries cannot change any score and replay is a
    * pure overwrite.
    */
  def qualityClassifierSink(docs: DataFrame, model: DataFrame,
      statePath: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "qualityClassifierSink stores scores under batch=<id> partitions; " +
        "an id column named 'batch' would collide with partition " +
        "discovery — rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQualityClassifierBatch(batch, batchId, model, statePath,
          idCol, textCol)
      }
  }

  /** One scoring step of [[qualityClassifierSink]] (package-visible so
    * the spec can drive replay directly).
    */
  private[graft] def applyQualityClassifierBatch(batch: DataFrame,
      batchId: Long, model: DataFrame, statePath: String, idCol: String,
      textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    // Persist: the feature frame references the micro-batch three times
    // (token explode, per-doc token count, the bias-row union), and
    // foreachBatch re-executes the batch per reference
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      graft.api.Graft.qualityClassifierScore(b, model, idCol, textCol)
        .write.mode("overwrite")
        .parquet(new Path(root, s"scores/batch=$batchId").toString)
    finally b.unpersist()
  }

  /** All scores emitted so far by a [[qualityClassifierSink]] (None
    * before the first completed batch).
    */
  def qualityClassifierScores(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val sroot = new Path(new Path(statePath).toUri.getPath, "scores")
    val fs = sroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sroot)) None
    else Some(spark.read.parquet(sroot.toString).drop("batch"))
  }

  /** All drop verdicts emitted so far by a [[semanticDedupSink]]. */
  def semanticDedupVerdicts(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val vroot = new Path(new Path(statePath).toUri.getPath, "verdicts")
    val fs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vroot)) None
    else Some(spark.read.parquet(vroot.toString)
      .select("vec_id", "cell", "dup_of_ct", "max_cos"))
  }

  /** #147 — `stream_dsir` / `dsirSink`: DSIR selection weights AT
    * INGEST (#146's deployment shape): each arriving micro-batch is
    * scored against a FROZEN [[graft.api.Graft.dsirModel]] (fit on a
    * seed corpus + target slice, re-fit on a cadence — the #130
    * frozen-model rule), weights landing replay-safely under
    * `weights/batch=<id>`. A doc's weight depends only on its own
    * text and the model ([[graft.api.Graft.dsirScore]] is literally
    * the batch function), so batch boundaries cannot change any
    * weight and replay is a pure overwrite. The 256-row model
    * broadcasts into every batch — per-batch cost is the batch's own
    * (doc, bucket) aggregate, nothing corpus-sized.
    */
  def dsirSink(docs: DataFrame, model: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "dsirSink stores weights under batch=<id> partitions; an id " +
        "column named 'batch' would collide with partition discovery — " +
        "rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDsirBatch(batch, batchId, model, statePath, idCol, textCol)
      }
  }

  /** One scoring step of [[dsirSink]] (package-visible so the spec
    * can drive replay directly).
    */
  private[graft] def applyDsirBatch(batch: DataFrame, batchId: Long,
      model: DataFrame, statePath: String, idCol: String,
      textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    // Persist: the scorer references the micro-batch twice (word
    // explode + keep-every-id left join) and foreachBatch re-executes
    // the batch per reference (the applyQualityLmBatch rule)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      graft.api.Graft.dsirScore(b, model, idCol, textCol)
        .write.mode("overwrite")
        .parquet(new Path(root, s"weights/batch=$batchId").toString)
    finally b.unpersist()
  }

  /** All weights emitted so far by a [[dsirSink]] (None before the
    * first completed batch — the [[semanticDedupVerdicts]] convention).
    */
  def dsirWeightsSoFar(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val wroot = new Path(new Path(statePath).toUri.getPath, "weights")
    val fs = wroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wroot)) None
    else Some(spark.read.parquet(wroot.toString).drop("batch"))
  }

  /** #142 — `stream_dedup_lines`: #134's cross-document LINE dedup AT
    * INGEST. Each arriving micro-batch (a) contracts to its line-grain
    * document-frequency partial — `(lk, docs)`, distinct docs per line
    * hash WITHIN the batch; docs are globally unique across batches,
    * so partials are integer-ADDITIVE like the #128 histograms — landed
    * replay-safely under `lines/batch=<id>`, and (b) emits per-doc
    * verdicts for the ARRIVING docs against the accumulated df store
    * UP TO this batch (`batch <= id` — what makes old-batch replay a
    * fixpoint rather than a verdict rewrite), under
    * `verdicts/batch=<id>`. Verdicts are PROVISIONAL in the #61/#68
    * incremental sense: a line becomes corpus-duplicated only when its
    * second distinct doc ARRIVES, so the earlier doc's verdict stays
    * clean — flagged-at-ingest is always a SUBSET of batch-#134-flagged
    * (df only grows), with equality when duplicates co-arrive
    * (spec-pinned: single-batch delivery == the gated query exactly).
    *
    * Scale: per-batch work is the batch's own line grain plus one
    * line-keyed join against the store (8-byte keys, never text); the
    * store itself is line-vocabulary-sized, bucketed by parquet
    * partition — nothing corpus-sized is ever re-shuffled per batch.
    */
  def lineDedupSink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "lineDedupSink stores state under batch=<id> partitions; an id " +
        "column named 'batch' would collide with partition discovery — " +
        "rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyLineDedupBatch(batch, batchId, statePath, idCol, textCol)
      }
  }

  /** One ingest step of [[lineDedupSink]] (package-visible so the spec
    * can drive replay directly).
    */
  private[graft] def applyLineDedupBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lines = graft.operators.Dedup.lineGrain(b, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        lines.groupBy("lk").agg(countDistinct("doc_id").as("docs"))
          .write.mode("overwrite")
          .parquet(new Path(root, s"lines/batch=$batchId").toString)
        // df so far = partials with batch <= id: includes the partial
        // just written, excludes later batches on old-batch replay
        val flagged = spark.read
          .parquet(new Path(root, "lines").toString)
          .where(col("batch") <= batchId)
          .groupBy("lk").agg(sum("docs").as("df"))
          .where(col("df") >= graft.operators.Dedup.LineMinDocs)
          .select(col("lk"), lit(1L).as("is_dup"))
        val perDoc = lines
          .join(flagged, Seq("lk"), "left")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_lines"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_lines"),
            sum(col("line_chars")).as("chars"),
            sum(col("line_chars") * coalesce(col("is_dup"), lit(0L)))
              .as("dup_chars"))
        b.select(col(idCol).as("doc_id")).distinct()
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_lines"), lit(0L)).as("n_lines"),
            coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
            when(coalesce(col("chars"), lit(0L)) === 0,
              lit(null).cast("double"))
              .otherwise(round(
                (col("chars") - col("dup_chars")).cast("double") / col("chars"),
                6))
              .as("retained_frac"))
          .write.mode("overwrite")
          .parquet(new Path(root, s"verdicts/batch=$batchId").toString)
      } finally lines.unpersist()
    } finally b.unpersist()
  }

  /** All per-doc line verdicts emitted so far by a [[lineDedupSink]]
    * (None before the first completed batch).
    */
  def lineDedupVerdicts(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val vroot = new Path(new Path(statePath).toUri.getPath, "verdicts")
    val fs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vroot)) None
    else Some(spark.read.parquet(vroot.toString).drop("batch"))
  }

  /** #143 — `stream_domain_stats`: #135's per-domain curation
    * dashboard maintained while the corpus ARRIVES. Each micro-batch
    * drops blocklisted domains MAP-SIDE (an `isin` literal filter —
    * the broadcast-anti's streaming twin, pruning before anything is
    * stored), then lands two replay-safe contractions: the
    * domain-grain integer partial (docs, tokens, quality-gate passes
    * — additive across batches like the #128 histograms) under
    * `stats/batch=<id>`, and the `(domain, fp, cnt, min_id)`
    * fingerprint contraction under `fps/batch=<id>` — the minimal
    * state from which CROSS-batch exact-dup counts are recoverable
    * (a dup is a non-canonical member of a fingerprint group, and
    * canonical = the globally smallest doc id, which min() preserves
    * under any batch split). [[domainStatsState]] folds the partials
    * into EXACTLY the batch #135 readout whatever the boundaries
    * (spec-pinned), so the dashboard is always current at the cost of
    * two batch-sized contractions per micro-batch.
    */
  def domainStatsSink(docs: DataFrame, blocklist: Seq[String],
      statePath: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", domainCol: String = "source",
      qualityTau: Double = graft.operators.Corpus.DomainQualityTau)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch" && domainCol != "batch",
      "domainStatsSink stores state under batch=<id> partitions; a " +
        "column named 'batch' would collide with partition discovery — " +
        "rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDomainStatsBatch(batch, batchId, blocklist, statePath,
          idCol, textCol, domainCol, qualityTau)
      }
  }

  /** One maintenance step of [[domainStatsSink]] (package-visible so
    * the spec can drive replay directly).
    */
  private[graft] def applyDomainStatsBatch(batch: DataFrame, batchId: Long,
      blocklist: Seq[String], statePath: String, idCol: String,
      textCol: String, domainCol: String, qualityTau: Double): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    val kept = batch.where(
      if (blocklist.isEmpty) lit(true)
      else !col(domainCol).isin(blocklist: _*))
    // withQuality wants a `text` column; contract to the columns the
    // two stores need, at the batch's own size, persisted because the
    // two writes below would otherwise re-execute the micro-batch
    val scored = graft.operators.Text.withQuality(
        kept.select(col(idCol).as("doc_id"), col(textCol).as("text"),
          col(domainCol).as("domain")))
      .select(col("domain"), col("doc_id"), col("n_tokens"),
        (col("quality_score") > qualityTau).cast("long").as("pass"),
        graft.operators.Dedup.contentFp.as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      scored.groupBy("domain").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("pass").as("quality_pass"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"stats/batch=$batchId").toString)
      scored.groupBy("domain", "fp").agg(
          count(lit(1)).as("cnt"),
          min("doc_id").as("min_id"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"fps/batch=$batchId").toString)
    } finally scored.unpersist()
  }

  /** The per-domain dashboard after the last completed batch: partials
    * summed (exact — integer additivity), cross-batch dup counts
    * recovered from the fingerprint contractions (per fingerprint, the
    * globally-smallest doc id is canonical; every other member counts
    * against its own domain), ratios derived last — column-for-column
    * the batch `q_domain_stats` readout. None before the first batch.
    */
  def domainStatsState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val sroot = new Path(new Path(statePath).toUri.getPath, "stats")
    val fs = sroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sroot)) return None
    val stats = spark.read.parquet(sroot.toString)
      .groupBy("domain").agg(
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("quality_pass").as("quality_pass"))
    val fps = spark.read
      .parquet(new Path(new Path(statePath).toUri.getPath, "fps").toString)
      .groupBy("domain", "fp").agg(
        sum("cnt").as("cnt"), min("min_id").as("min_id"))
    val canon = fps.groupBy("fp").agg(min("min_id").as("gmin"))
    val dups = fps.join(canon, "fp")
      .withColumn("dup",
        col("cnt") - (col("min_id") === col("gmin")).cast("long"))
      .groupBy("domain").agg(sum("dup").as("dup_docs"))
    Some(stats
      .join(dups, Seq("domain"), "left")
      .select(col("domain").as("domain"), col("n_docs"), col("n_tokens"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        col("quality_pass"),
        (coalesce(col("dup_docs"), lit(0L)).cast("double") / col("n_docs"))
          .as("dup_rate"),
        (col("quality_pass").cast("double") / col("n_docs"))
          .as("quality_pass_rate")))
  }

  /** #149 — `stream_source_overlap`: the #145 cross-source
    * duplication MATRIX after the last completed
    * [[domainStatsSink]] batch — for FREE from state that sink
    * already maintains: its `fps/batch=<id>` contraction is exactly
    * the per-(source, fingerprint) count grain the batch matrix
    * contracts to, so the sweep folds partials (integer-additive
    * under any batch split) and applies the SHARED
    * [[graft.operators.Corpus.sourceOverlapFromCounts]] tail — the
    * batch and streaming matrices literally share the pair-expansion
    * code, so they cannot drift. Equals the one-shot
    * `q_source_overlap` on everything delivered (modulo the sink's
    * blocklist, which the batch comparator must also apply); replay
    * safety is inherited from the sink's overwrite-by-batch-id
    * stores. None before the first batch.
    */
  def sourceOverlapState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val froot = new Path(new Path(statePath).toUri.getPath, "fps")
    val fs = froot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(froot)) return None
    val raw = spark.read.parquet(froot.toString)
    // fail with a clear message, not a missing-column resolution error,
    // when pointed at a statePath some OTHER sink owns (ADVICE r11)
    val expected = Seq("domain", "fp", "cnt")
    require(expected.forall(raw.columns.contains),
      s"$froot is not a domainStatsSink fps store: found columns " +
        s"[${raw.columns.mkString(", ")}], need [${expected.mkString(", ")}]")
    val counts = raw
      .groupBy(col("domain").as("source"), col("fp"))
      .agg(sum("cnt").as("c"))
    Some(graft.operators.Corpus.sourceOverlapFromCounts(counts))
  }

  /** #150 — `stream_curation_funnel`: the #72 end-to-end curation
    * funnel maintained while the corpus ARRIVES. Per batch, four
    * replay-safe stores (all overwrite-by-batchId):
    *
    *  - `counts/batch=<id>` — the stage 0-4 predicate sums. Stages
    *    1-4 (lang, quality, repetition, #193 blocklist) are STATELESS
    *    per-doc rules sharing #33/#71/#193's exact projections, so
    *    per-batch integer partials are additive (the #128 histogram
    *    rule).
    *  - `funnel_fps/batch=<id>` — the stage-4 survivors' (fp, cnt,
    *    min_id) contraction (named distinctly from [[domainStatsSink]]'s
    *    `fps` subtree, whose rows carry an extra `domain` column —
    *    pointing both sinks at one statePath must not silently merge
    *    two different schemas into one partition tree, ADVICE r11);
    *    stage 5 (exact-dedup canonical) folds exactly:
    *    canonical = globally-smallest surviving id per fingerprint,
    *    and min() survives any batch split, so c5 = |distinct fps|.
    *  - `bench/batch=<id>` — the arriving benchmark slice's distinct
    *    shingle hashes (#58's pmod-97 slice and 3-gram vocabulary).
    *  - `verdicts/batch=<id>` — contamination verdicts for the
    *    arriving non-benchmark stage-4 survivors, judged against the
    *    vocabulary accumulated AT `batch <= id` (what makes old-batch
    *    replay a fixpoint rather than a verdict rewrite).
    *
    * Verdicts are PROVISIONAL in the #61/#142 sense: a benchmark doc
    * arriving AFTER a survivor cannot retro-contaminate it, so the
    * swept stage-6 count is ≥ the one-shot #72's (equality when the
    * benchmark slice arrives no later than the docs it contaminates —
    * in particular, single-batch delivery equals #72 exactly,
    * spec-pinned). Per-batch cost: the batch's own map-side
    * projections + one vocabulary-bounded broadcast intersect;
    * nothing corpus-sized is ever re-read.
    */
  def curationFunnelSink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "curationFunnelSink stores state under batch=<id> partitions; " +
        "an id column named 'batch' would collide with partition " +
        "discovery — rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCurationFunnelBatch(batch, batchId, statePath, idCol,
          textCol, langCol)
      }
  }

  /** The funnel's fingerprint subtree was renamed `fps/` →
    * `funnel_fps/` (to stop colliding with [[domainStatsSink]]'s
    * `fps/`, whose rows carry an extra `domain` column). A statePath
    * written by the pre-rename version still holds funnel history
    * under `fps/` — silently ignoring it would restart c4 from empty
    * with no error, so: a legacy `fps/` subtree CARRYING THE FUNNEL
    * SCHEMA (fp, cnt, min_id — no `domain`) is renamed in place to
    * `funnel_fps/` (merged nothing: if `funnel_fps/` also exists the
    * tree is ambiguous and we fail loudly instead). A `fps/` subtree
    * WITH a `domain` column is the domain sink's — left alone.
    */
  /** Roots already checked this JVM — the migration verdict is stable
    * once reached (migrated, or the subtree is the domain sink's), so
    * the per-micro-batch hot path must not re-list and re-infer the
    * growing fps/batch=* tree forever. */
  private val funnelFpsChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `Some(fps path)` iff the state root holds a legacy `fps/`
    * subtree that (a) exists, (b) carries at least one COMMITTED part
    * file, and (c) infers the FUNNEL schema (fp, cnt, min_id — no
    * `domain`). `None` otherwise — including the not-listable /
    * still-being-written cases the migration must also skip. Pure
    * inspection: shared by the WRITE path (which then renames) and
    * the READ path (which must not — r13 ADVICE: a read-only readout
    * performing renames can race a concurrent writer sharing the
    * state root).
    */
  /** One listing + one schema read classifies the legacy subtree for
    * BOTH call sites (review r14: the migrate path used to re-read
    * the same parquet footer legacyFunnelFps had just read).
    */
  private final case class LegacyFpsProbe(
      funnel: Option[org.apache.hadoop.fs.Path],
      cols: Set[String],
      exists: Boolean)

  private def legacyFunnelFps(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path): LegacyFpsProbe = {
    import org.apache.hadoop.fs.Path
    val legacy = new Path(root, "fps")
    val fs = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(legacy)) return LegacyFpsProbe(None, Set.empty, exists = false)
    // schema inference needs at least one COMMITTED part file — a
    // crashed write can leave only _temporary/_SUCCESS droppings, and
    // read.parquet on that throws; an empty tree carries no history
    val hasCommitted = {
      val qLegacy = fs.makeQualified(legacy)
      def clean(p: org.apache.hadoop.fs.Path): Boolean = {
        var q = p
        while (q != null && q != qLegacy) {
          val n = q.getName
          if (n.startsWith("_") || n.startsWith(".")) return false
          q = q.getParent
        }
        true
      }
      val it = fs.listFiles(legacy, /*recursive=*/ true)
      var found = false
      while (it.hasNext && !found) found = clean(it.next().getPath)
      found
    }
    if (!hasCommitted) return LegacyFpsProbe(None, Set.empty, exists = true)
    val cols = spark.read.parquet(legacy.toString).schema.fieldNames.toSet
    val isFunnelSchema = cols.contains("fp") && cols.contains("min_id") &&
      !cols.contains("domain")
    LegacyFpsProbe(if (isFunnelSchema) Some(legacy) else None, cols,
      exists = true)
  }

  /** The funnel-fingerprint subtree the READ path should consume:
    * `funnel_fps/` when present, the legacy funnel-schema `fps/` when
    * only that exists — resolved WITHOUT renaming anything (the write
    * path migrates; a readout must not mutate a state root it may be
    * sharing with a live writer). The both-exist case is the same
    * ambiguity the write path refuses, stated here read-only.
    */
  private def resolveFunnelFps(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
    import org.apache.hadoop.fs.Path
    val target = new Path(root, "funnel_fps")
    // the write-path memo is just as valid here: "checked" means the
    // legacy tree was migrated, absent, or classified foreign — the
    // readout resolves straight to funnel_fps/ without re-listing
    // (review r14: each readout paid O(LIST) + a footer read)
    if (funnelFpsChecked.contains(root.toString)) return target
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val probe = legacyFunnelFps(spark, root)
    val legacy = probe.funnel
    if (!probe.exists || probe.cols.contains("domain"))
      funnelFpsChecked.add(root.toString)
    if (fs.exists(target)) {
      if (legacy.isDefined)
        throw new IllegalStateException(
          s"$root holds BOTH a legacy funnel 'fps/' subtree and " +
            "'funnel_fps/' — reading either alone would under-count " +
            "history; reconcile manually (move fps/batch=* into " +
            "funnel_fps/ if the batch ids are disjoint, else drop " +
            "the stale tree)")
      target
    } else legacy.getOrElse(target)
  }

  private def migrateLegacyFunnelFps(
      spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (funnelFpsChecked.contains(root.toString)) return
    val probe = legacyFunnelFps(spark, root)
    if (!probe.exists) { funnelFpsChecked.add(root.toString); return }
    if (probe.funnel.isEmpty) {
      // either still being written (not memoized: the writer may be
      // filling it in) or the domain sink's subtree (memoized)
      if (probe.cols.contains("domain")) funnelFpsChecked.add(root.toString)
      return
    }
    val legacy = probe.funnel.get
    val fs = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(root, "funnel_fps")
    if (fs.exists(target))
      throw new IllegalStateException(
        s"$root holds BOTH a legacy funnel 'fps/' subtree and " +
          "'funnel_fps/' — merging would double-count history; " +
          "reconcile manually (move fps/batch=* into funnel_fps/ if " +
          "the batch ids are disjoint, else drop the stale tree)")
    if (!fs.rename(legacy, target))
      throw new IllegalStateException(
        s"failed to migrate legacy funnel state $legacy -> $target")
    funnelFpsChecked.add(root.toString)
  }

  /** One maintenance step of [[curationFunnelSink]] (package-visible
    * so the spec can drive replay directly).
    */
  private[graft] def applyCurationFunnelBatch(batch: DataFrame,
      batchId: Long, statePath: String, idCol: String, textCol: String,
      langCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    migrateLegacyFunnelFps(spark, root)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    val scored = graft.operators.Text.withBlocklist(
        graft.operators.Text.withRepetition(
          graft.operators.Text.withQuality(
            batch.select(col(idCol).as("doc_id"), col(textCol).as("text"),
              col(langCol).as("lang")))), "text")
      .withColumn("fp", graft.operators.Dedup.contentFp)
      .withColumn("p1", col("lang") === "en")
      .withColumn("p2", col("p1") &&
        col("quality_score") >= graft.operators.Corpus.FunnelQualityTau)
      .withColumn("p3", col("p2") && !col("is_repetitive"))
      // the #193 blocklist stage — stateless like 1-3, so its partial
      // stays batch-additive
      .withColumn("p4", col("p3") && col("bl_pass"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      scored.agg(
          count(lit(1)).as("c0"),
          coalesce(sum(col("p1").cast("long")), lit(0L)).as("c1"),
          coalesce(sum(col("p2").cast("long")), lit(0L)).as("c2"),
          coalesce(sum(col("p3").cast("long")), lit(0L)).as("c3"),
          coalesce(sum(col("p4").cast("long")), lit(0L)).as("c4"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"counts/batch=$batchId").toString)
      scored.where(col("p4"))
        .groupBy("fp").agg(
          count(lit(1)).as("cnt"), min("doc_id").as("min_id"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"funnel_fps/batch=$batchId").toString)
      scored.where(isBench)
        .select(explode(call("word_shingle_hashes", col("text"), lit(3))).as("lk"))
        .distinct()
        .write.mode("overwrite")
        .parquet(new Path(root, s"bench/batch=$batchId").toString)
      // vocabulary accumulated UP TO AND INCLUDING this batch (the
      // write above landed first, so a re-run reads the same set)
      val vocab = spark.read
        .parquet(new Path(root, "bench").toString)
        .where(col("batch") <= batchId)
        .agg(collect_set(col("lk")).as("_vocab"))
      scored.where(col("p4") && !isBench)
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          (size(array_intersect(
            call("word_shingle_hashes", col("text"), lit(3)),
            col("_vocab"))).cast("long") >=
            graft.operators.Corpus.ContaminationK).as("contaminated"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"verdicts/batch=$batchId").toString)
    } finally scored.unpersist()
  }

  /** The funnel readout after the last completed batch — seven rows,
    * column-for-column the batch `q_curation_funnel` schema. None
    * before the first batch.
    */
  def curationFunnelState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    val croot = new Path(root, "counts")
    val fs = croot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(croot)) return None
    // mergeSchema: a store RESUMED across the blocklist upgrade holds
    // old c0-c3 batches NEXT TO new c0-c4 ones, and a single-file
    // schema pick could mask the legacy half entirely
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(croot.toString)
    // a counts store written (wholly or partly) BEFORE the #193
    // blocklist stage lacks c4 rows; silently treating them as 0 (or
    // letting sum skip their NULLs) would report an unscreened history
    // as screened AND mix stage-3 with stage-4 fps survivors — fail
    // loudly instead (the funnel_fps-migration discipline: replay the
    // stream into a fresh statePath to upgrade)
    require(raw.columns.contains("c4"),
      s"$croot predates the blocklist funnel stage (no c4 column) — " +
        "replay the stream into a fresh statePath to upgrade")
    require(raw.where(col("c4").isNull).isEmpty,
      s"$croot holds pre-blocklist batches (NULL c4) next to upgraded " +
        "ones — the mixed history would miscount stages 4-6; replay " +
        "the stream into a fresh statePath")
    val c = raw
      .agg(coalesce(sum("c0"), lit(0L)).as("c0"),
        coalesce(sum("c1"), lit(0L)).as("c1"),
        coalesce(sum("c2"), lit(0L)).as("c2"),
        coalesce(sum("c3"), lit(0L)).as("c3"),
        coalesce(sum("c4"), lit(0L)).as("c4"))
    // read path: legacy funnel-schema fps/ is consumed IN PLACE (no
    // rename — this is a readout; only applyCurationFunnelBatch,
    // the write path, migrates)
    val fproot = resolveFunnelFps(spark, root)
    val canon =
      if (!fs.exists(fproot))
        spark.range(0).select(col("id").as("gmin"))
      else spark.read.parquet(fproot.toString)
        .groupBy("fp").agg(min("min_id").as("gmin"))
        .select("gmin")
    val vroot = new Path(root, "verdicts")
    val verdicts =
      if (!fs.exists(vroot))
        spark.range(0).select(col("id").as("doc_id"),
          lit(false).as("contaminated"))
      else spark.read.parquet(vroot.toString)
        .select("doc_id", "contaminated")
    val c56 = canon
      .join(verdicts, canon("gmin") === verdicts("doc_id"), "left")
      .agg(count(lit(1)).as("c5"),
        coalesce(sum((pmod(col("gmin"), lit(97L)) =!= 0 &&
          !coalesce(col("contaminated"), lit(false))).cast("long")),
          lit(0L)).as("c6"))
    Some(c.crossJoin(c56)
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
      .orderBy("stage"))
  }

  /** #194 — `stream_training_manifest` / `trainingManifestSink`: the
    * #190 end-to-end training manifest maintained while the corpus
    * ARRIVES — the last composition that had no ingest twin (VERDICT
    * r15 item 4). Per non-empty batch, three existing maintenance
    * steps run VERBATIM on one statePath (the shared-code-path
    * discipline — the manifest cannot drift from the stages it
    * composes):
    *
    *  1. [[applyKeeperQualityBatch]] — the #83 cluster fold plus the
    *     #136 per-cluster quality keeper election, at the #43/#129
    *     gate dials (3-gram shingles, τ = 0.8, df ≤ 64);
    *  2. [[applyCurationFunnelBatch]] — the #150 funnel stores
    *     (stage counts, the stage-4 fingerprint contraction whose
    *     global min is the exact-dedup canonical, the benchmark
    *     vocabulary, and the provisional contamination verdicts);
    *  3. `manifest_docs/batch=<id>` — the batch's OWN per-doc manifest
    *     projection: `(doc_id, source, n_tokens, fp)` for stage-4
    *     passers outside the benchmark slice (the only rows that can
    *     ever survive; everything else is reconstructible from the
    *     funnel stores). Four thin columns — the corpus text is
    *     retained once, by the cluster store, not again here.
    *
    * [[trainingManifestState]] then reassembles survivorship from the
    * stores (canonical-by-fp via the funnel fps, minus contaminated,
    * keeper-elected via the cluster state) and applies the SHARED
    * [[graft.operators.Corpus.manifestTail]] — split/shard/pack/mix
    * are deterministic in the survivor SET (packing orders by doc_id,
    * never arrival), so the fold equals the one-shot #190 on the
    * delivered corpus wherever the survivor sets agree: exactly on
    * single-batch delivery, and under multi-batch delivery with the
    * #150 provisional-contamination caveat (a benchmark doc arriving
    * AFTER a survivor cannot retro-contaminate it — bench-first
    * delivery restores exact equality, spec-pinned). Replay is a
    * fixpoint: every store is overwrite-by-batchId.
    *
    * A doc re-ingested bit-identically collapses in the readout's
    * distinct; same-id different-content re-crawls are #121's job
    * (the [[keeperQualitySink]] convention).
    */
  def trainingManifestSink(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      sourceCol: String = "source")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(idCol != "batch",
      "trainingManifestSink stores state under batch=<id> partitions; " +
        "an id column named 'batch' would collide with partition " +
        "discovery — rename it first")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTrainingManifestBatch(batch, batchId, statePath, idCol,
          textCol, langCol, sourceCol)
      }
  }

  /** One maintenance step of [[trainingManifestSink]] (package-visible
    * so the spec can drive replay directly).
    */
  private[graft] def applyTrainingManifestBatch(batch: DataFrame,
      batchId: Long, statePath: String, idCol: String, textCol: String,
      langCol: String, sourceCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(new Path(statePath).toUri.getPath)
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      col(langCol).as("lang"), col(sourceCol).as("source")).persist()
    try {
      if (b.isEmpty) return
      applyKeeperQualityBatch(b.select("doc_id", "text"), batchId,
        statePath, "doc_id", "text", n = 3,
        tau = graft.operators.Dedup.JaccardTau,
        dfCap = graft.operators.Dedup.DfCap)
      applyCurationFunnelBatch(b, batchId, statePath, "doc_id", "text",
        "lang")
      val scored = graft.operators.Text.withBlocklist(
          graft.operators.Text.withRepetition(
            graft.operators.Text.withQuality(b)), "text")
        .withColumn("p1", col("lang") === "en")
        .withColumn("p2", col("p1") &&
          col("quality_score") >= graft.operators.Corpus.FunnelQualityTau)
        .withColumn("p3", col("p2") && !col("is_repetitive"))
        .withColumn("p4", col("p3") && col("bl_pass"))
      scored.where(col("p4") && pmod(col("doc_id"), lit(97L)) =!= 0)
        .select(col("doc_id"), col("source"),
          coalesce(graft.operators.Text.wsTokenCount, lit(0L))
            .as("n_tokens"),
          graft.operators.Dedup.contentFp.as("fp"))
        .write.mode("overwrite")
        .parquet(new Path(root, s"manifest_docs/batch=$batchId").toString)
    } finally b.unpersist()
  }

  /** The manifest readout after the last completed batch — the #190
    * schema `(split, shard, n_docs, n_packs, sum_tokens, n_straddles,
    * planned_tokens)` over everything delivered so far. None before
    * the first non-empty batch. Survivorship is reassembled from the
    * stores the sink maintains; the layout/packing/mixture tail is
    * the SHARED batch code.
    */
  def trainingManifestState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    val mroot = new Path(root, "manifest_docs")
    val fs = mroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mroot)) return None
    // bit-identical re-ingest collapses here (the doc projection is
    // content-derived, so the replayed row is equal); same-id
    // different-content re-crawls are out of contract (#121)
    val docs = spark.read.parquet(mroot.toString)
      .select("doc_id", "source", "n_tokens", "fp").distinct()
    // exact-dedup canonical: global min surviving id per fingerprint,
    // from the funnel's stage-4 contraction — computed over ALL
    // stage-4 passers (benchmark docs included, exactly like the
    // batch keep_id window; a bench canonical correctly kills its
    // non-bench twins)
    val fproot = resolveFunnelFps(spark, root)
    val canon = spark.read.parquet(fproot.toString)
      .groupBy("fp").agg(min("min_id").as("gmin"))
    // provisional contamination verdicts (the #150 caveat)
    val vroot = new Path(root, "verdicts")
    val contam =
      if (!fs.exists(vroot))
        spark.range(0).select(col("id").as("doc_id"))
      else spark.read.parquet(vroot.toString)
        .where(col("contaminated")).select("doc_id").distinct()
    val labels = latestLabels(spark, fs, new Path(root, "labels"))
      .map(_.select(col("id").as("doc_id"),
        col("component_id").as("cluster_id")))
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        col("id").as("cluster_id")))
    val keepers = keeperState(spark, statePath)
      .map(_.select(col("cluster_id"), col("keeper_id")))
      .getOrElse(spark.range(0).select(col("id").as("cluster_id"),
        col("id").as("keeper_id")))
    val surv = docs
      .join(canon, Seq("fp"))
      .where(col("doc_id") === col("gmin"))
      .join(contam.withColumn("_contam", lit(true)), Seq("doc_id"), "left")
      .where(coalesce(col("_contam"), lit(false)) === false)
      .join(labels, Seq("doc_id"), "left")
      .join(keepers, Seq("cluster_id"), "left")
      .where(col("cluster_id").isNull || col("doc_id") === col("keeper_id"))
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
    // materialize BEFORE the shared tail: manifestTail persists its
    // pack frame, and a lazy survivor plan here would (a) re-read
    // state files a later replay may have overwritten and (b) let
    // CacheManager plan-match a PREVIOUS readout's cache whose file
    // listing is stale — a checkpointed RDD is unique per call, so
    // each readout sees exactly the store as of now. materialize =
    // true: the tail unpersists its internal pack frame after
    // computing the (tiny) cell result, so repeated readouts in a
    // long-running monitor don't accumulate dead cached frames
    Some(graft.operators.Corpus.manifestTail(
      surv.select("doc_id", "source", "n_tokens", "ckey")
        .localCheckpoint(true), materialize = true))
  }

  /** #155 — `stream_mix_plan` / `mixPlanSink`: the #141 source-mixture
    * plan maintained while the corpus ARRIVES. Per batch, ONE
    * stratum-grain integer partial — (stratum, docs, tokens) — lands
    * replay-safely under `mix/batch=<id>`; [[mixPlanState]] sums the
    * partials (integer-additive under any batch split) and applies
    * the SHARED [[graft.operators.Corpus.mixPlanFromTotals]] tail.
    * Unlike the dedup-family twins there is NO provisional caveat:
    * the fold equals the one-shot plan EXACTLY whatever the
    * boundaries, because nothing in the plan depends on arrival
    * order. Per-batch state is |strata| rows.
    */
  def mixPlanSink(docs: DataFrame, statePath: String,
      checkpointDir: String, stratumCol: String = "source",
      tokensCol: String = "n_tokens")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(stratumCol != "batch",
      "mixPlanSink stores state under batch=<id> partitions; a stratum " +
        "column named 'batch' would collide with partition discovery")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMixPlanBatch(batch, batchId, statePath, stratumCol, tokensCol)
      }
  }

  /** One partial step of [[mixPlanSink]] (package-visible for replay
    * in the spec).
    */
  private[graft] def applyMixPlanBatch(batch: DataFrame, batchId: Long,
      statePath: String, stratumCol: String, tokensCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    batch
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("docs"),
        coalesce(sum(tokensCol), lit(0L)).as("tokens"))
      .write.mode("overwrite")
      .parquet(new Path(root, s"mix/batch=$batchId").toString)
  }

  /** The mixture plan over everything delivered so far — EXACTLY the
    * batch `Graft.mixPlan` on the union of all micro-batches. None
    * before the first batch.
    */
  def mixPlanState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, budget: Long,
      stratumCol: String = "source"): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val mroot = new Path(new Path(statePath).toUri.getPath, "mix")
    val fs = mroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mroot)) return None
    val totals = spark.read.parquet(mroot.toString)
      .groupBy(col("stratum").as(stratumCol))
      .agg(sum("docs").as("docs"), sum("tokens").as("tokens"))
    Some(graft.operators.Corpus.mixPlanFromTotals(totals, stratumCol, budget))
  }

  /** #206 — `stream_mix_alpha`: the α-GENERAL mixture plan over the
    * SAME ingest fold as #155 (r17 verdict item 3). [[mixPlanSink]]'s
    * per-batch partials are pure source-grain integer totals
    * `(stratum, docs, tokens)` — they encode NO temperature — so one
    * maintained state serves BOTH the fixed-α=½ plan
    * ([[mixPlanState]]) and any α a sweep asks for: the temperature
    * dial applies at READ time via the shared [[graft.operators
    * .Corpus.mixAlphaFromTotals]] tail, never at ingest — exactly the
    * batch #141/#204 pairing, and the reason re-planning at a new α
    * costs one |strata|-row readout, not a corpus replay. The fold
    * equals the one-shot [[graft.api.Graft.mixAlpha]] EXACTLY under
    * any batch boundaries (nothing in the plan depends on arrival
    * order; integer sums are order-free). None before the first
    * batch.
    */
  def mixAlphaState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, alpha: Double, budget: Long,
      stratumCol: String = "source"): Option[DataFrame] = {
    require(alpha > 0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha — 1 is natural sampling, " +
        "smaller flattens toward uniform")
    import org.apache.hadoop.fs.Path
    val mroot = new Path(new Path(statePath).toUri.getPath, "mix")
    val fs = mroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mroot)) return None
    val totals = spark.read.parquet(mroot.toString)
      .groupBy(col("stratum").as(stratumCol))
      .agg(sum("docs").as("docs"), sum("tokens").as("tokens"))
    Some(graft.operators.Corpus.mixAlphaFromTotals(totals, stratumCol,
      alpha, budget))
  }

  /** #210 — `stream_token_quantiles` / `tokenQuantilesSink`: the
    * EXACT #62 per-source token-length quantiles maintained at ingest
    * — closing the quantile family's streaming side the way #155/#206
    * closed the mixture's. The trick that keeps it exact where a
    * streaming percentile is normally a sketch (#63's KLL shape):
    * token counts are SMALL INTEGERS, so the full distribution is a
    * countable histogram — per batch ONE `(source, n_tokens, n)`
    * integer contraction lands replay-safely under `hist/batch=<id>`,
    * partials sum under ANY batch split, and [[graft.operators.Corpus
    * .tokenQuantilesFromHist]] replays Spark's `percentile`
    * interpolation verbatim over the summed histogram — the readout
    * is BIT-IDENTICAL to the one-shot batch #62, no sketch error, no
    * provisional caveat. State per batch is ≤ |sources| × |distinct
    * counts| rows (thousands), regardless of corpus size.
    *
    * This is the general additive-histogram recipe: any quantile over
    * a BOUNDED-CARDINALITY integer measure (token counts, line
    * counts, byte buckets) can be maintained exactly this way; only
    * genuinely continuous measures need the #63 sketch.
    */
  def tokenQuantilesSink(docs: DataFrame, statePath: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTokenQuantilesBatch(batch, batchId, statePath)
      }

  /** One partial step of [[tokenQuantilesSink]] (package-visible so
    * the spec can drive replay directly). */
  private[graft] def applyTokenQuantilesBatch(batch: DataFrame,
      batchId: Long, statePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    batch
      .select(col("source"), graft.operators.Text.wsTokenCount.as("n_tokens"))
      .groupBy("source", "n_tokens")
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite")
      .parquet(new Path(root, s"hist/batch=$batchId").toString)
  }

  /** The per-source quantile dashboard over everything delivered —
    * EXACTLY the batch `q_token_quantiles` on the union of all
    * micro-batches. None before the first batch.
    */
  def tokenQuantilesState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val hroot = new Path(new Path(statePath).toUri.getPath, "hist")
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hroot)) return None
    Some(graft.operators.Corpus.tokenQuantilesFromHist(
      spark.read.parquet(hroot.toString)
        .groupBy("source", "n_tokens").agg(sum("n").as("n"))))
  }

  /** #156 — `stream_token_fertility` / `tokenFertilitySink`: the #148
    * tokenizer-fertility dashboard maintained at ingest. Per batch,
    * one (lang, source) integer partial (docs, chars, bytes, ws/bpe
    * token counts — additive) under `fert/batch=<id>`;
    * [[tokenFertilityState]] sums the partials and applies the SHARED
    * ratio tail. Like the mixture-plan fold, EXACT under any batch
    * boundaries — nothing depends on arrival order. Per-batch state
    * is |langs|·|sources| rows.
    */
  def tokenFertilitySink(docs: DataFrame, statePath: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTokenFertilityBatch(batch, batchId, statePath)
      }

  /** One partial step of [[tokenFertilitySink]]. */
  private[graft] def applyTokenFertilityBatch(batch: DataFrame,
      batchId: Long, statePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    graft.operators.Text.tokenFertilityTotals(batch)
      .write.mode("overwrite")
      .parquet(new Path(root, s"fert/batch=$batchId").toString)
  }

  /** The fertility dashboard over everything delivered — EXACTLY the
    * batch `q_token_fertility` on the union. None before any batch.
    */
  def tokenFertilityState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val froot = new Path(new Path(statePath).toUri.getPath, "fert")
    val fs = froot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(froot)) return None
    Some(graft.operators.Text.tokenFertilityFromTotals(
      spark.read.parquet(froot.toString)
        .groupBy("lang", "source")
        .agg(sum("docs").as("docs"), sum("chars").as("chars"),
          sum("bytes").as("bytes"), sum("ws_tokens").as("ws_tokens"),
          sum("bpe_tokens").as("bpe_tokens"))))
  }

  /** #173 — `stream_bpe_fertility` / `bpeFertilitySink`: the REAL-
    * tokenizer fertility dashboard maintained at ingest, with a
    * FROZEN merge table — the #130 frozen-model pattern applied to
    * #171: merges are fit OFFLINE (batch
    * [[graft.operators.Bpe.learnFromCorpus]], the thing a deployment
    * versions and ships) and serving encodes against them without
    * refitting, so ingest and the periodic batch readout can never
    * disagree about what a token is. Per batch ONE (lang, source)
    * integer partial — docs, alpha words, REAL subword tokens —
    * lands replay-safely under `bpe_fert/batch=<id>`;
    * [[bpeFertilityState]] sums the partials (integer-additive under
    * ANY batch split, because the frozen merges make the encode a
    * pure per-word function) and applies the SHARED ratio tail —
    * the fold equals the one-shot batch aggregate EXACTLY, no
    * provisional caveat. Per-batch cost: the batch's own word
    * dictionary encode (dictionary-sized, never occurrence-sized);
    * state is |langs|·|sources| rows per batch.
    */
  def bpeFertilitySink(docs: DataFrame,
      merges: Seq[(String, String)], statePath: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBpeFertilityBatch(batch, batchId, statePath, merges)
      }

  /** One partial step of [[bpeFertilitySink]]. */
  private[graft] def applyBpeFertilityBatch(batch: DataFrame,
      batchId: Long, statePath: String,
      merges: Seq[(String, String)]): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(new Path(statePath).toUri.getPath)
    if (batch.isEmpty) return
    graft.operators.Bpe.bpeFertilityTotals(batch, merges)
      .write.mode("overwrite")
      .parquet(new Path(root, s"bpe_fert/batch=$batchId").toString)
  }

  /** The frozen-merge fertility dashboard over everything delivered —
    * EXACTLY the batch aggregate on the union. None before any batch.
    */
  def bpeFertilityState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val froot = new Path(new Path(statePath).toUri.getPath, "bpe_fert")
    val fs = froot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(froot)) return None
    Some(graft.operators.Bpe.bpeFertilityFromTotals(
      spark.read.parquet(froot.toString)
        .groupBy("lang", "source")
        .agg(sum("docs").as("docs"),
          sum("alpha_words").as("alpha_words"),
          sum("bpe_tokens").as("bpe_tokens"))))
  }

  /** The labeling after the last completed batch, if any. */
  def dupClusterState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val labelsRoot = new Path(new Path(statePath).toUri.getPath, "labels")
    val fs = labelsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestLabels(spark, fs, labelsRoot)
  }

  private def versionOf(dirName: String): Option[Long] =
    if (dirName.startsWith("v=")) dirName.drop(2).toLongOption else None

  private def latestLabels(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      labelsRoot: org.apache.hadoop.fs.Path): Option[DataFrame] =
    if (!fs.exists(labelsRoot)) None
    else fs.listStatus(labelsRoot).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(_._1).lastOption
      .map { case (_, p) => spark.read.parquet(p.toString) }
}
