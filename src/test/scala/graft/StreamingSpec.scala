package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming._

/** MemoryStream-driven specs for the Structured Streaming equivalents
  * (SURVEY.md §2.1 #16-20). The driver's batch gate can't execute
  * these; consistency with the batch operators on the same events is
  * asserted here instead.
  */
class StreamingSpec extends SparkSpec {

  /** sf0.001 events as LogEvent rows (null users mapped to the -1
    * sentinel the routing marks dirty; stateful ops key by user).
    */
  private lazy val logEvents: Seq[LogEvent] = {
    val rows = Tables.events(spark, sfTiny)
      .select("event_id", "user_id", "event_type", "ts_us", "value", "props")
      .collect()
    rows.toIndexedSeq.map { r =>
      val tsUs =
        if (r.isNullAt(3)) 0L else r.getLong(3)
      LogEvent(
        event_id = r.getLong(0),
        user_id = if (r.isNullAt(1)) -1L else r.getLong(1),
        event_type = r.getString(2),
        ts = new java.sql.Timestamp(tsUs / 1000),
        ts_us = tsUs,
        value = if (r.isNullAt(4)) 0.0 else r.getDouble(4),
        props = if (r.isNullAt(5)) null else r.getString(5))
    }
  }

  private def runAppend[T](stream: MemoryStream[LogEvent],
      out: Dataset[T], name: String,
      batches: Seq[Seq[LogEvent]]): DataFrame = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("stream_base_log routes identically to the batch ETL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val routed = Streams.routeLogs(
      ms.toDF().withColumn("user_id", when(col("user_id") === -1L, lit(null)).otherwise(col("user_id"))))
    val q = routed.writeStream.format("memory").queryName("base_log")
      .outputMode("append").start()
    try { ms.addData(logEvents); q.processAllAvailable() } finally q.stop()
    val streamCounts = spark.table("base_log")
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchCounts = SparkEntry.queries("q_etl_json_route")(spark, sfTiny)
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)
  }

  test("stream_base_log multi-sink writes one dir per route") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_route_").toString
    val ms = MemoryStream[LogEvent]
    val q = Streams.writeRouted(Streams.routeLogs(ms.toDF()),
      s"$tmp/out", s"$tmp/ckpt").start()
    try { ms.addData(logEvents.take(100)); q.processAllAvailable() } finally q.stop()
    val total = Seq("page", "start", "dirty").map { r =>
      spark.read.parquet(s"$tmp/out/route=$r").count()
    }.sum
    assert(total == 100, s"multi-sink lost rows: $total/100")
  }

  test("stream_cdc_route matches the batch CDC routing exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val q = Streams.cdcRoute(ms.toDF()).writeStream.format("memory")
      .queryName("cdc_route").outputMode("append").start()
    try {
      // two micro-batches: the rule must not depend on batch boundaries
      ms.addData(logEvents.take(200)); q.processAllAvailable()
      ms.addData(logEvents.drop(200)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cdc_route")
    val want = SparkEntry.queries("q_cdc_route")(spark, sfTiny)
    assert(got.where(col("op") === "delete").isEmpty)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream CDC routing diverged from batch q_cdc_route")
  }

  test("stream_pii_scrub redacts identically to the batch transform") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "contact alice.smith+spam@example.co.uk or call +1-555-123-4567"),
      (2L, "clean text"),
      (3L, "mail a@b.io digits 123456789"))
    val ms = MemoryStream[(Long, String)]
    val q = Streams.piiScrub(ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("pii_scrub")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2)); q.processAllAvailable()
      ms.addData(rows.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pii_scrub")
    val want = graft.operators.Text.piiScrubbed(
      rows.toDF("doc_id", "text"), "doc_id", "text")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream PII scrub diverged from the batch transform")
  }

  test("stream mixture sample matches the batch Graft.mixtureSample exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rates = Map("a" -> 10000L, "b" -> 5000L) // 'c' absent: whitelist drop
    // ids straddle the keep/drop boundary for the 50% class; split the
    // rows across micro-batches so batch boundaries are exercised
    val rows = (1L to 40L).map(i => (i, if (i % 3 == 0) "b" else if (i % 7 == 0) "c" else "a"))
    val ms = MemoryStream[(Long, String)]
    val q = Streams.mixtureSample(ms.toDF().toDF("doc_id", "source"),
        "doc_id", "source", rates)
      .writeStream.format("memory").queryName("mix_sample")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(15)); q.processAllAvailable()
      ms.addData(rows.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mix_sample")
    val want = graft.api.Graft.mixtureSample(
      rows.toDF("doc_id", "source"), "doc_id", "source", rates)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream mixture sample diverged from the batch transform")
    // the whitelist must have dropped 'c' and kept a strict subset of 'b'
    val kept = got.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(!kept.exists(_._2 == "c"))
    assert(kept.count(_._2 == "b") < rows.count(_._2 == "b"))
  }

  test("streaming profile equals the batch approx profile exactly") {
    // HLL merge is commutative/associative and the estimate depends
    // only on the merged registers — so stream == batch EXACTLY, for
    // any micro-batch split
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500)((rnd.nextInt(200).toLong,
      rnd.nextInt(40).toDouble))
    val ms = MemoryStream[(Long, Double)]
    val q = Streams.profile(ms.toDF().toDF("k", "v"), Seq("k", "v"))
      .writeStream.format("memory").queryName("stream_profile")
      .outputMode("complete").start()
    try {
      ms.addData(rows.take(123)); q.processAllAvailable()
      ms.addData(rows.drop(123)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_profile")
    val want = graft.operators.Profile.profile(
      rows.toDF("k", "v"), Seq("k", "v"), approx = true)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streaming profile diverged from the batch approx profile")
  }

  test("stream_contamination matches the batch q_contamination exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfTiny)
    val isBench = pmod(col("doc_id"), lit(97L)) === 0
    val corpus = docs.where(!isBench).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val out = Streams.contaminationCheck(
      ms.toDF().toDF("doc_id", "text"), docs.where(isBench),
      "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("contam")
      .outputMode("append").start()
    try {
      // two micro-batches: the verdict is per-row, boundaries must not matter
      ms.addData(corpus.take(100).toIndexedSeq); q.processAllAvailable()
      ms.addData(corpus.drop(100).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("contam")
      .select(col("id").as("doc_id"), col("n_overlap"), col("contaminated"))
    val want = SparkEntry.queries("q_contamination")(spark, sfTiny)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream contamination check diverged from batch q_contamination")
  }

  test("stream_range_join matches the batch bucketed range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val intervals = Seq.tabulate(40) { i =>
      val lo = rnd.nextLong(1000)
      (i.toLong, lo, lo + rnd.nextLong(50))
    }.toDF("iv_id", "lo", "hi")
    val points = Seq.tabulate(200)(i => (i.toLong, rnd.nextLong(1100)))
    val ms = MemoryStream[(Long, Long)]
    val out = Streams.rangeJoin(ms.toDF().toDF("pt_id", "p"), "p",
      intervals, "lo", "hi", bucketWidth = 32L)
    val q = out.writeStream.format("memory").queryName("rj")
      .outputMode("append").start()
    try {
      ms.addData(points.take(90)); q.processAllAvailable()
      ms.addData(points.drop(90)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rj").select("pt_id", "iv_id")
    val want = graft.api.Graft.rangeJoin(points.toDF("pt_id", "p"), "p",
      intervals, "lo", "hi", 32L).select("pt_id", "iv_id")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream range join diverged from the batch operator")
  }

  test("stream-stream range join matches the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val intervals = Seq.tabulate(40) { i =>
      val lo = rnd.nextLong(1000)
      (i.toLong, lo, lo + rnd.nextLong(50))
    }
    val points = Seq.tabulate(200)(i => (i.toLong, rnd.nextLong(1100)))
    val msP = MemoryStream[(Long, Long)]
    val msI = MemoryStream[(Long, Long, Long)]
    // generous lateness: the spec asserts JOIN correctness across
    // interleaved micro-batches, not watermark drops — nothing may be
    // late here so stream == batch exactly
    val out = Streams.rangeJoinStream(
      msP.toDF().toDF("pt_id", "p"), "p",
      msI.toDF().toDF("iv_id", "lo", "hi"), "lo", "hi",
      bucketWidth = 32L, maxSpanMicros = 64L,
      pointsLateness = "1 hour", intervalsLateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("rjss")
      .outputMode("append").start()
    try {
      // interleave arrivals: points before their interval and after
      msI.addData(intervals.take(20)); q.processAllAvailable()
      msP.addData(points.take(120)); q.processAllAvailable()
      msI.addData(intervals.drop(20)); q.processAllAvailable()
      msP.addData(points.drop(120)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rjss").select("pt_id", "iv_id")
    val want = graft.api.Graft.rangeJoin(points.toDF("pt_id", "p"), "p",
      intervals.toDF("iv_id", "lo", "hi"), "lo", "hi", 32L)
      .select("pt_id", "iv_id")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream-stream range join diverged from the batch operator")
  }

  test("asofJoinStream matches the batch as-of join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    // whole-millisecond event times (the watermark is ms-grained) with
    // distinct (key, ts) rights so tie-break rules never engage
    def times(n: Int) =
      rnd.shuffle((1 until 2000).toVector).take(n).map(_ * 1000000L)
    val rights = for {
      k <- 0L until 8L
      (ts, i) <- times(20).zipWithIndex
    } yield (k, ts, k * 1000 + i, rnd.nextDouble())
    val lefts = for {
      k <- 0L until 8L
      (ts, i) <- times(40).zipWithIndex
    } yield (k, ts, k * 10000 + i)
    def ev(k: Long, ts: Long, isRight: Boolean, id: Long, v: Double) =
      AsofEvent(k, new java.sql.Timestamp(ts / 1000), ts, isRight, id, v)
    // batches are consecutive time chunks (shuffled within each): the
    // engine drops rows older than the watermark before the stateful
    // operator, so cross-batch disorder must stay within the lateness
    val all = (rights.map(r => ev(r._1, r._2, isRight = true, r._3, r._4)) ++
      lefts.map(l => ev(l._1, l._2, isRight = false, l._3, 0.0)))
      .sortBy(_.ts_us)
    val ms = MemoryStream[AsofEvent]
    val q = Streams.asofJoinStream(ms.toDS(), lateness = "1 second")
      .writeStream.format("memory").queryName("asof_s")
      .outputMode("append").start()
    try {
      val third = all.length / 3
      ms.addData(rnd.shuffle(all.take(third))); q.processAllAvailable()
      ms.addData(rnd.shuffle(all.slice(third, 2 * third))); q.processAllAvailable()
      ms.addData(rnd.shuffle(all.drop(2 * third))); q.processAllAvailable()
      // far-future right on an unused key pushes the watermark past
      // every left; pending keys flush via their event-time timeouts
      ms.addData(Seq(ev(999L, 10000000000L, isRight = true, -5L, 0.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(999L, 10000001000L, isRight = true, -6L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_s")
    val want = graft.api.Graft.asofJoin(
        lefts.toDF("key", "l_ts", "id"),
        rights.toDF("key", "r_ts", "right_id", "right_value")
          .withColumn("right_ts_us", col("r_ts")),
        "key", "l_ts", "r_ts", Seq("right_id", "right_ts_us", "right_value"))
      .select(col("key"), col("id"), col("l_ts").as("ts_us"),
        coalesce(col("right_id"), lit(-1L)).as("right_id"),
        coalesce(col("right_ts_us"), lit(-1L)).as("right_ts_us"),
        coalesce(col("right_value"), lit(0.0)).as("right_value"))
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"streaming as-of join diverged from the batch as-of join; " +
        s"extra=${extra.take(5).mkString("; ")} " +
        s"missing=${missing.take(5).mkString("; ")}")
  }

  test("stream_unique_visit matches batch per-user daily first events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val events = logEvents.filter(_.user_id >= 0)
    // two batches to exercise state carried across triggers
    val (b1, b2) = events.splitAt(events.length / 2)
    val out = runAppend(ms, Streams.uniqueVisits(ms.toDS()), "uv", Seq(b1, b2))
    val got = out.select("user_id", "day").distinct()
    val want = Tables.events(spark, sfTiny)
      .where(col("user_id").isNotNull)
      .select(col("user_id"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("day"))
      .distinct()
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream UV (user, day) set differs from batch")
  }

  test("stream_interval_join matches the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msV = MemoryStream[LogEvent]
    val msP = MemoryStream[LogEvent]
    val joined = Streams.intervalJoin(
      msV.toDF().where(col("event_type") === "view"),
      msP.toDF().where(col("event_type") === "purchase"))
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      val evs = logEvents.filter(_.user_id >= 0)
      msV.addData(evs); msP.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ij").select("view_id", "purchase_id", "gap_us")
    val want = SparkEntry.queries("q_event_interval_join")(spark, sfTiny)
      .select("view_id", "purchase_id", "gap_us")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream interval join differs from batch")
  }

  test("stream_interval_join holds state across chronological triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msV = MemoryStream[LogEvent]
    val msP = MemoryStream[LogEvent]
    val joined = Streams.intervalJoin(
      msV.toDF().where(col("event_type") === "view"),
      msP.toDF().where(col("event_type") === "purchase"))
    val q = joined.writeStream.format("memory").queryName("ij_multi")
      .outputMode("append").start()
    try {
      // chronological thirds: pairs spanning a batch boundary must be
      // found via buffered join state, and the watermark never outruns
      // a still-matchable view
      val evs = logEvents.filter(_.user_id >= 0).sortBy(e => (e.ts_us, e.event_id))
      evs.grouped(math.max(evs.size / 3, 1)).foreach { chunk =>
        msV.addData(chunk); msP.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("ij_multi").select("view_id", "purchase_id", "gap_us")
    val want = SparkEntry.queries("q_event_interval_join")(spark, sfTiny)
      .select("view_id", "purchase_id", "gap_us")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "multi-trigger stream interval join diverged from batch")
  }

  test("stream_interval_join pairs a purchase delivered before its view; drops a late view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msV = MemoryStream[LogEvent]
    val msP = MemoryStream[LogEvent]
    val joined = Streams.intervalJoin(
      msV.toDF().where(col("event_type") === "view"),
      msP.toDF().where(col("event_type") === "purchase"))
    val want = SparkEntry.queries("q_event_interval_join")(spark, sfTiny)
      .select("view_id", "purchase_id", "gap_us")
    // a pair strictly inside the interval, so its view is still ahead
    // of the watermark that its early purchase moves
    val pair = want.where(col("gap_us") < 10L * 60 * 1000 * 1000)
      .orderBy("view_id", "purchase_id").head()
    val evs = logEvents.filter(_.user_id >= 0).sortBy(e => (e.ts_us, e.event_id))
    val view = evs.find(_.event_id == pair.getLong(0)).get
    val buy = evs.find(_.event_id == pair.getLong(1)).get
    val (before, rest) = evs.partition(_.ts_us < view.ts_us)
    val after = rest.filterNot(_.event_id == buy.event_id)
    // a copy of the earliest view under a fresh id: far behind the
    // watermark once the whole log has been fed
    val late = evs.find(_.event_type == "view").get
      .copy(event_id = evs.map(_.event_id).max + 1)
    val q = joined.writeStream.format("memory").queryName("ij_ooo")
      .outputMode("append").start()
    val dropped = try {
      msV.addData(before); msP.addData(before :+ buy); q.processAllAvailable()
      msV.addData(after); msP.addData(after); q.processAllAvailable()
      msV.addData(Seq(late)); q.processAllAvailable()
      q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
    } finally q.stop()
    val got = spark.table("ij_ooo").select("view_id", "purchase_id", "gap_us")
    assert(got.where(col("view_id") === view.event_id &&
      col("purchase_id") === buy.event_id).count() == 1,
      "the purchase delivered before its view was never paired")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "out-of-order stream interval join diverged from batch")
    assert(dropped == 1, s"expected the one late view dropped, got $dropped")
  }

  test("stream_interval_join state: one store per partition, bounded by the watermark tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msV = MemoryStream[LogEvent]
    val msP = MemoryStream[LogEvent]
    val joined = Streams.intervalJoin(
      msV.toDF().where(col("event_type") === "view"),
      msP.toDF().where(col("event_type") === "purchase"))
    // one event every 10 s for 4 hours; each user is active for 20
    // consecutive events, so new keys keep arriving for the whole run
    // while only the last 10 minutes plus the lateness may hold state
    val stepUs = 10L * 1000 * 1000
    val t0Us = 1704067200000000L
    val evs = (0 until 1440).map { i =>
      val tsUs = t0Us + i * stepUs
      LogEvent(i.toLong, (i / 20).toLong,
        if (i % 3 == 2) "purchase" else "view",
        new java.sql.Timestamp(tsUs / 1000), tsUs, 1.0, null)
    }
    val TenMinUs = 10L * 60 * 1000 * 1000
    val q = joined.writeStream.format("memory").queryName("ij_bound")
      .outputMode("append").start()
    // per trigger: (state rows, keys with a row in the watermark tail)
    val perTrigger = try {
      evs.grouped(120).toVector.zipWithIndex.map { case (chunk, i) =>
        msV.addData(chunk); msP.addData(chunk); q.processAllAvailable()
        val p = q.lastProgress
        assert(p.stateOperators.length == 1,
          s"expected one state operator, got ${p.stateOperators.length}")
        val op = p.stateOperators.head
        assert(op.numStateStoreInstances ==
          spark.conf.get("spark.sql.shuffle.partitions").toLong,
          s"expected one state store per partition, got " +
            op.numStateStoreInstances)
        val wmUs = java.time.Instant.parse(p.eventTime.get("watermark"))
          .toEpochMilli * 1000
        val tailKeys = evs.take((i + 1) * 120)
          .filter(_.ts_us >= wmUs - TenMinUs).map(_.user_id).distinct.size
        (op.numRowsTotal, tailKeys.toLong)
      }
    } finally q.stop()
    perTrigger.zipWithIndex.foreach { case ((rows, tail), i) =>
      assert(rows <= tail,
        s"trigger $i: $rows state rows exceed the $tail keys in the tail")
    }
    val users = evs.map(_.user_id).distinct.size
    assert(perTrigger.last._1 * 4 < users,
      s"state kept ${perTrigger.last._1} of $users keys")
    val want = for {
      v <- evs if v.event_type == "view"
      p <- evs if p.event_type == "purchase" && p.user_id == v.user_id &&
        v.ts_us < p.ts_us && p.ts_us <= v.ts_us + TenMinUs
    } yield (v.event_id, p.event_id, v.user_id, p.ts_us - v.ts_us)
    val got = spark.table("ij_bound")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.sorted == want.sorted, "bounded-state run lost or added pairs")
  }

  test("stream_visitor_stats: windowed multi-measure agg (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val stats = Streams.visitorStats(ms.toDF())
    val q = stats.writeStream.format("memory").queryName("vs")
      .outputMode("complete").start()
    try { ms.addData(logEvents.filter(_.user_id >= 0)); q.processAllAvailable() } finally q.stop()
    val got = spark.table("vs")
    val want = Tables.events(spark, sfTiny)
      .where(col("user_id").isNotNull)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("pv"),
        approx_count_distinct("user_id").as("uv_approx"),
        sum(coalesce(col("value"), lit(0.0))).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("pv"), col("uv_approx"), col("value_sum"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream visitor stats differ from the batch equivalent")
  }

  test("stream_sliding_window: hopping-window agg matches batch, 2 windows per event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val stats = Streams.slidingVisitorStats(ms.toDF())
    val q = stats.writeStream.format("memory").queryName("svs")
      .outputMode("complete").start()
    val input = logEvents.filter(_.user_id >= 0)
    try { ms.addData(input); q.processAllAvailable() } finally q.stop()
    val got = spark.table("svs")
    // every event lands in exactly len/slide = 2 windows
    val total = got.agg(sum("events")).first().getLong(0)
    assert(total == 2L * input.size,
      s"hop overlap drifted: $total != ${2 * input.size}")
    val want = Tables.events(spark, sfTiny)
      .where(col("user_id").isNotNull)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        approx_count_distinct("user_id").as("users_approx"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("events"), col("users_approx"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream hopping-window stats differ from the batch equivalent")
  }

  test("stream_dup_clusters: maintained labeling equals full-corpus batch CC") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_dupc_").toString
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = Streams.dupClusterSink(stream, s"$base/state", s"$base/ckpt")
      .start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.dupClusterState(spark, s"$base/state").get
    val want = graft.api.Graft.connectedComponents(
      graft.api.Graft.ngramJaccardPairs(
        Tables.documents(spark, sfTiny), "doc_id", "text"),
      "id_a", "id_b")
    assert(got.count() > 0, "no clusters maintained — corpus has near-dups")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "incrementally maintained labeling != batch CC over the full corpus")
    // replaying the LAST maintenance step (foreachBatch at-least-once)
    // must be a fixpoint
    val lastId = new java.io.File(s"$base/state/labels").listFiles()
      .map(_.getName.stripPrefix("v=").toLong).max
    val beforeReplay = got.collect().toSet
    Streams.applyDupClusterBatch(
      spark.read.parquet(s"$base/state/corpus/batch=$lastId"), lastId,
      s"$base/state", "doc_id", "text", 3, 0.8, Int.MaxValue)
    val afterReplay = Streams.dupClusterState(spark, s"$base/state").get
      .collect().toSet
    assert(afterReplay == beforeReplay, "replayed batch mutated the labeling")
  }

  test("stream_keeper_quality: maintained election equals batch #129; replay is a fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_keep_").toString
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = Streams.keeperQualitySink(stream, s"$base/state", s"$base/ckpt")
      .start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.keeperState(spark, s"$base/state").get
    val want = SparkEntry.queries("q_keeper_quality")(spark, sfTiny)
    assert(got.count() > 0, "no keepers elected — corpus has near-dup clusters")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "incrementally maintained keepers != batch #129 over the full corpus")
    // at-least-once: replaying BOTH an old batch and the last batch
    // must leave the consumed state (latest keepers version) unchanged
    val ids = new java.io.File(s"$base/state/corpus").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).sorted
    val before = got.collect().toSet
    Seq(ids.head, ids.last).foreach { id =>
      Streams.applyKeeperQualityBatch(
        spark.read.parquet(s"$base/state/corpus/batch=$id"), id,
        s"$base/state", "doc_id", "text", 3, 0.8, Int.MaxValue)
      val after = Streams.keeperState(spark, s"$base/state").get
        .collect().toSet
      assert(after == before, s"replaying batch $id mutated the election")
    }
  }

  test("stream_corpus_diff: batched statuses + sweep equal the one-shot diff") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cdiff_").toString
    spark.sql("DROP TABLE IF EXISTS cdiff_old_snap")
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    // old snapshot: ids not ≡0 (mod 5); new: not ≡0 (mod 7), with
    // ids ≡0 (mod 3) re-crawled to a different fingerprint
    val oldSnap = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val newSnap = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, md5(concat(col("fp"), lit("x"))))
          .otherwise(col("fp")).as("fp"))
    graft.api.Graft.writeSnapshot(oldSnap, "cdiff_old_snap", "doc_id",
      buckets = 4, overwrite = true)
    // a stream that never delivered a batch wrote no status/ dir: the
    // sweep must not throw — the empty new snapshot is a valid diff
    // where every stored id is `removed` (ADVICE r9)
    val zeroBatch = Streams.corpusDiffSweep(spark, "cdiff_old_snap",
      s"$base/never_started")
    assert(zeroBatch.where(col("status") =!= "removed").count() == 0 &&
      zeroBatch.count() == oldSnap.count(),
      "zero-batch sweep must return exactly the stored ids as removed")
    val rows = newSnap.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "fp")
    val q = Streams.corpusDiffSink(stream, "cdiff_old_snap",
      s"$base/state", s"$base/ckpt").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.corpusDiffSweep(spark, "cdiff_old_snap", s"$base/state")
    val want = graft.api.Graft.corpusDiff(oldSnap, newSnap, "doc_id", "fp")
      .select(col("doc_id").as("id"), col("fp_old"), col("fp_new"),
        col("status"))
    assert(got.where(col("status") =!= "unchanged").count() > 0,
      "diff is vacuous — the snapshot slices overlap completely")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed statuses + sweep != the one-shot corpusDiff")
    // the stored snapshot side of the status join must scan
    // exchange-free (the bucketed layout's point): only the batch
    // side shuffles
    val joinPlan = spark.table("cdiff_old_snap")
      .select(col("doc_id").as("_old_id"), col("fp").as("fp_old"))
      .join(newSnap.limit(10).select(col("doc_id").as("id")),
        col("id") === col("_old_id"), "right")
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(joinPlan).size
    assert(shuffles <= 1,
      s"bucketed snapshot scan must not exchange, got $shuffles:\n$joinPlan")
    // replaying the LAST batch (foreachBatch at-least-once) must be a
    // fixpoint: the status partition is overwritten in place
    val lastId = new java.io.File(s"$base/state/status").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    // materialize the replay input before apply overwrites the very
    // directory it is being read from (the real sink feeds from the
    // stream's own micro-batch, not its output)
    Streams.applyCorpusDiffBatch(
      spark.read.parquet(s"$base/state/status/batch=$lastId")
        .select(col("id").as("doc_id"), col("fp_new").as("fp"))
        .localCheckpoint(true),
      lastId, "cdiff_old_snap", s"$base/state", "doc_id", "fp")
    val after = Streams.corpusDiffSweep(spark, "cdiff_old_snap",
      s"$base/state").collect().toSet
    assert(after == before, "replayed batch mutated the diff")
    spark.sql("DROP TABLE IF EXISTS cdiff_old_snap")
  }

  test("stream_curation_funnel: folds equal batch #72; verdicts provisional") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toIndexedSeq
    val want = SparkEntry.queries("q_curation_funnel")(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

    // single-batch delivery: the fold equals the one-shot funnel EXACTLY
    // (the benchmark slice arrives with everything it contaminates)
    val base1 = java.nio.file.Files.createTempDirectory("graft_fun1_").toString
    val ms1 = MemoryStream[(Long, String, String)]
    val q1 = Streams.curationFunnelSink(
      ms1.toDF().toDF("doc_id", "text", "lang"),
      s"$base1/state", s"$base1/ckpt").start()
    try { ms1.addData(rows); q1.processAllAvailable() } finally q1.stop()
    val got1 = Streams.curationFunnelState(spark, s"$base1/state").get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got1 == want, s"single-batch fold != batch funnel:\n$got1\n$want")

    // 3-batch delivery: stages 0-5 are exact under any split (0-4
    // stateless-additive, 5 a global min over fps); stage 6
    // is provisional (>= the one-shot count) — and replay is a fixpoint
    val base3 = java.nio.file.Files.createTempDirectory("graft_fun3_").toString
    val ms3 = MemoryStream[(Long, String, String)]
    val q3 = Streams.curationFunnelSink(
      ms3.toDF().toDF("doc_id", "text", "lang"),
      s"$base3/state", s"$base3/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms3.addData(c); q3.processAllAvailable() }
    } finally q3.stop()
    val got3 = Streams.curationFunnelState(spark, s"$base3/state").get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got3.take(6) == want.take(6),
      s"stages 0-5 must fold exactly under any split:\n$got3\n$want")
    assert(got3(6)._3 >= want(6)._3,
      s"stage 6 is provisional: fold ${got3(6)._3} < one-shot ${want(6)._3}")
    val before = got3.toSet
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyCurationFunnelBatch(
          chunk.toDF("doc_id", "text", "lang"), id.toLong,
          s"$base3/state", "doc_id", "text", "lang")
        val after = Streams.curationFunnelState(spark, s"$base3/state").get
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        assert(after == before, s"replaying batch $id mutated the funnel")
    }
    // no state before any batch
    assert(Streams.curationFunnelState(spark, s"$base3/none").isEmpty)
  }

  test("stream_training_manifest: fold equals batch #190; replay is a fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq
    val want = SparkEntry.queries("q_training_manifest")(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)

    // single-batch delivery: the fold equals the one-shot manifest
    // EXACTLY (survivor sets agree: contamination sees the benchmark
    // with everything it contaminates, clusters/keepers see the whole
    // corpus, and the layout tail is the shared batch code)
    val base1 = java.nio.file.Files.createTempDirectory("graft_man1_").toString
    val ms1 = MemoryStream[(Long, String, String, String)]
    val q1 = Streams.trainingManifestSink(
      ms1.toDF().toDF("doc_id", "text", "lang", "source"),
      s"$base1/state", s"$base1/ckpt").start()
    try { ms1.addData(rows); q1.processAllAvailable() } finally q1.stop()
    val got1 = Streams.trainingManifestState(spark, s"$base1/state").get
      .collect().map(_.toSeq).toSeq
    assert(got1 == want, s"single-batch fold != batch manifest:\n$got1\n$want")

    // bench-first 3-batch delivery: the benchmark slice arrives in
    // batch 0 before anything it could contaminate, so the provisional
    // caveat is moot and the fold is exact under the split
    val bench = rows.filter(_._1 % 97 == 0)
    val rest = rows.filterNot(_._1 % 97 == 0)
    val chunks = bench +: rest.grouped((rest.size + 1) / 2).toSeq
    val base3 = java.nio.file.Files.createTempDirectory("graft_man3_").toString
    val ms3 = MemoryStream[(Long, String, String, String)]
    val q3 = Streams.trainingManifestSink(
      ms3.toDF().toDF("doc_id", "text", "lang", "source"),
      s"$base3/state", s"$base3/ckpt").start()
    try {
      chunks.foreach { c => ms3.addData(c); q3.processAllAvailable() }
    } finally q3.stop()
    val got3 = Streams.trainingManifestState(spark, s"$base3/state").get
      .collect().map(_.toSeq).toSeq
    assert(got3 == want,
      s"bench-first multi-batch fold != batch manifest:\n$got3\n$want")
    // replay (at-least-once foreachBatch) is a fixpoint — first and
    // last batch
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyTrainingManifestBatch(
          chunk.toDF("doc_id", "text", "lang", "source"), id.toLong,
          s"$base3/state", "doc_id", "text", "lang", "source")
        val after = Streams.trainingManifestState(spark, s"$base3/state").get
          .collect().map(_.toSeq).toSeq
        assert(after == want, s"replaying batch $id mutated the manifest")
    }
    // no state before any batch
    assert(Streams.trainingManifestState(spark, s"$base3/none").isEmpty)
  }

  test("stream_training_manifest: kill-mid-batch + restart from checkpoint converges") {
    // VERDICT r16 item 4 — the chaos case the replay-fixpoint rows
    // don't cover: an incarnation dies AFTER some of the batch's
    // sub-stores were written but BEFORE the checkpoint commit (the
    // manifest batch writes keeper-quality, funnel, and manifest_docs
    // state in sequence — a crash between sub-steps leaves them
    // inconsistent). The restarted incarnation re-delivers the same
    // batch id; every sub-store write is a batch=<id> overwrite, so
    // the re-run must repair the torn state and the final fold must
    // equal the one-shot batch manifest.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq
    val want = SparkEntry.queries("q_training_manifest")(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    // bench-first 3-chunk split (the provisional-contamination caveat
    // is moot, so the fold must be EXACT despite the chaos)
    val bench = rows.filter(_._1 % 97 == 0)
    val rest = rows.filterNot(_._1 % 97 == 0)
    val chunks = bench +: rest.grouped((rest.size + 1) / 2).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_mankill_").toString
    val ms = MemoryStream[(Long, String, String, String)]
    def start() = Streams.trainingManifestSink(
      ms.toDF().toDF("doc_id", "text", "lang", "source"),
      s"$base/state", s"$base/ckpt").start()
    // incarnation A commits batch 0, then dies
    val qa = start()
    try { ms.addData(chunks(0)); qa.processAllAvailable() } finally qa.stop()
    // chunk 1 is enqueued but NOT committed; the dying incarnation got
    // through two of batch 1's three sub-store writes (keeper-quality
    // and funnel) and never reached manifest_docs or the checkpoint
    ms.addData(chunks(1))
    val tornDf = chunks(1).toDF("doc_id", "text", "lang", "source")
    Streams.applyKeeperQualityBatch(tornDf.select("doc_id", "text"), 1L,
      s"$base/state", "doc_id", "text", n = 3,
      tau = graft.operators.Dedup.JaccardTau,
      dfCap = graft.operators.Dedup.DfCap)
    Streams.applyCurationFunnelBatch(tornDf, 1L, s"$base/state",
      "doc_id", "text", "lang")
    // incarnation B restarts from the checkpoint: batch 1 re-delivers
    // (at-least-once), its overwrites repair the torn state; chunk 2
    // then arrives normally
    val qb = start()
    try {
      qb.processAllAvailable()
      ms.addData(chunks(2)); qb.processAllAvailable()
    } finally qb.stop()
    val got = Streams.trainingManifestState(spark, s"$base/state").get
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      s"post-crash fold != batch manifest:\n$got\n$want")
  }

  test("stream_quality_classifier: kill-mid-batch + restart from checkpoint converges") {
    // same chaos case for the frozen-model scorer: the dying
    // incarnation left a PARTIAL scores/batch=1 partition (half the
    // batch's rows — what a torn multi-file write looks like to the
    // reader); the restarted incarnation re-scores the whole batch as
    // the same id, the overwrite replaces the partial partition, and
    // the final score set equals the batch scorer over all rows.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.api.Graft.install(spark)
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("text"))
    val isRef = pmod(call_function("poly_hash", col("source")), lit(4L)) === 0
    val model = graft.api.Graft.qualityClassifierModel(
      docs, "doc_id", "text", isRef).localCheckpoint(true)
    val want = graft.api.Graft.qualityClassifierScore(docs, model,
      "doc_id", "text").collect().map(_.toSeq).toSet
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_clskill_").toString
    val ms = MemoryStream[(Long, String)]
    def start() = Streams.qualityClassifierSink(
      ms.toDF().toDF("doc_id", "text"), model,
      s"$base/state", s"$base/ckpt").start()
    val qa = start()
    try { ms.addData(chunks(0)); qa.processAllAvailable() } finally qa.stop()
    // torn write: only HALF of chunk 1 landed as batch 1 before death
    ms.addData(chunks(1))
    Streams.applyQualityClassifierBatch(
      chunks(1).take(chunks(1).size / 2).toDF("doc_id", "text"), 1L,
      model, s"$base/state", "doc_id", "text")
    val torn = Streams.qualityClassifierScores(spark, s"$base/state").get
    assert(torn.count() < rows.size, "precondition: state must be torn")
    // restart repairs batch 1 and carries on with chunk 2
    val qb = start()
    try {
      qb.processAllAvailable()
      ms.addData(chunks(2)); qb.processAllAvailable()
    } finally qb.stop()
    val got = Streams.qualityClassifierScores(spark, s"$base/state").get
      .collect().map(_.toSeq).toSet
    assert(got == want,
      "post-crash folded scores != the batch scorer over all rows")
  }

  test("stream_token_fertility: folded partials equal the batch dashboard") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_fert_").toString
    val rows = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq
    val want = SparkEntry.queries("q_token_fertility")(spark, sfTiny)
      .collect().toSet
    assert(want.nonEmpty)
    val ms = MemoryStream[(Long, String, String, String)]
    val q = Streams.tokenFertilitySink(
      ms.toDF().toDF("doc_id", "text", "lang", "source"),
      s"$base/state", s"$base/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.tokenFertilityState(spark, s"$base/state").get
    assert(got.collect().toSet == want,
      "folded fertility dashboard != the one-shot readout")
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyTokenFertilityBatch(
          chunk.toDF("doc_id", "text", "lang", "source"), id.toLong,
          s"$base/state")
        assert(Streams.tokenFertilityState(spark, s"$base/state").get
          .collect().toSet == want, s"replaying batch $id mutated the readout")
    }
    assert(Streams.tokenFertilityState(spark, s"$base/none").isEmpty)
  }

  test("stream_bpe_fertility: frozen-merge fold equals the batch aggregate exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_bpef_").toString
    // merges fit OFFLINE on the full corpus (the versioned artifact a
    // deployment ships), then FROZEN for ingest — the #130 pattern
    val merges = graft.operators.Bpe.learnFromCorpus(spark, sfTiny)
    assert(merges.nonEmpty)
    val docsDf = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang", "source")
    val want = graft.operators.Bpe.bpeFertilityFromTotals(
      graft.operators.Bpe.bpeFertilityTotals(docsDf, merges))
      .collect().toSet
    assert(want.nonEmpty)
    val rows = docsDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq
    val ms = MemoryStream[(Long, String, String, String)]
    val q = Streams.bpeFertilitySink(
      ms.toDF().toDF("doc_id", "text", "lang", "source"), merges,
      s"$base/state", s"$base/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.bpeFertilityState(spark, s"$base/state").get
    assert(got.collect().toSet == want,
      "frozen-merge fold != the one-shot batch aggregate")
    // replay-safety: overwriting a batch partial is a fixpoint
    Streams.applyBpeFertilityBatch(
      chunks.head.toDF("doc_id", "text", "lang", "source"), 0L,
      s"$base/state", merges)
    assert(Streams.bpeFertilityState(spark, s"$base/state").get
      .collect().toSet == want, "replaying batch 0 mutated the readout")
    assert(Streams.bpeFertilityState(spark, s"$base/none").isEmpty)
  }

  test("stream_mix_plan: folded totals equal the batch plan exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_mix_").toString
    val budget = 1L << 20
    val rows = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"),
        graft.operators.Text.wsTokenCount.as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toIndexedSeq
    val want = graft.api.Graft.mixPlan(
      rows.toDF("doc_id", "source", "n_tokens"),
      "source", "n_tokens", budget).collect().toSet
    assert(want.nonEmpty)
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.mixPlanSink(
      ms.toDF().toDF("doc_id", "source", "n_tokens"),
      s"$base/state", s"$base/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.mixPlanState(spark, s"$base/state", budget).get
    assert(got.collect().toSet == want,
      "folded mixture plan != the one-shot plan on the same corpus")
    // replay fixpoint: old batch and last batch
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyMixPlanBatch(chunk.toDF("doc_id", "source", "n_tokens"),
          id.toLong, s"$base/state", "source", "n_tokens")
        assert(Streams.mixPlanState(spark, s"$base/state", budget).get
          .collect().toSet == want, s"replaying batch $id mutated the plan")
    }
    assert(Streams.mixPlanState(spark, s"$base/none", budget).isEmpty)
  }

  test("stream_mix_alpha: alpha-general readout over the shared fold equals the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_mixa_").toString
    val budget = 1L << 20
    val rows = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"),
        graft.operators.Text.wsTokenCount.as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toIndexedSeq
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.mixPlanSink(
      ms.toDF().toDF("doc_id", "source", "n_tokens"),
      s"$base/state", s"$base/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    // ONE maintained state serves every temperature: the alpha dial
    // applies at read time over the same (docs, tokens) partials
    for (alpha <- Seq(0.25, 0.5, 1.0)) {
      val want = graft.api.Graft.mixAlpha(
        rows.toDF("doc_id", "source", "n_tokens"),
        "source", "n_tokens", alpha, budget).collect().toSet
      assert(want.nonEmpty)
      val got = Streams.mixAlphaState(spark, s"$base/state", alpha, budget)
        .get.collect().toSet
      assert(got == want,
        s"folded alpha=$alpha plan != the one-shot plan on the same corpus")
    }
    // replay fixpoint: re-landing an old and the last batch must not
    // move any alpha readout
    val want25 = graft.api.Graft.mixAlpha(
      rows.toDF("doc_id", "source", "n_tokens"),
      "source", "n_tokens", 0.25, budget).collect().toSet
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyMixPlanBatch(chunk.toDF("doc_id", "source", "n_tokens"),
          id.toLong, s"$base/state", "source", "n_tokens")
        assert(Streams.mixAlphaState(spark, s"$base/state", 0.25, budget)
          .get.collect().toSet == want25,
          s"replaying batch $id mutated the alpha plan")
    }
    // the alpha dial is validated at read time; no state before ingest
    val bad = intercept[IllegalArgumentException] {
      Streams.mixAlphaState(spark, s"$base/state", 1.5, budget)
    }
    assert(bad.getMessage.contains("alpha"))
    assert(Streams.mixAlphaState(spark, s"$base/none", 0.25, budget).isEmpty)
  }

  test("stream_token_quantiles: additive-histogram fold equals the batch percentiles bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_tq_").toString
    val rows = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toIndexedSeq
    val want = SparkEntry.queries("q_token_quantiles")(spark, sfTiny)
      .collect().toSet
    assert(want.nonEmpty)
    val ms = MemoryStream[(Long, String, String)]
    val q = Streams.tokenQuantilesSink(
      ms.toDF().toDF("doc_id", "source", "text"),
      s"$base/state", s"$base/ckpt").start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    // exact, not sketch-approximate: the histogram partials are
    // integer-additive and the interpolation replays Spark's
    // percentile verbatim — collect().toSet equality, no tolerance
    val got = Streams.tokenQuantilesState(spark, s"$base/state").get
      .collect().toSet
    assert(got == want,
      "folded quantiles != the one-shot batch q_token_quantiles")
    // replay fixpoint: old and last batch
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyTokenQuantilesBatch(
          chunk.toDF("doc_id", "source", "text"), id.toLong, s"$base/state")
        assert(Streams.tokenQuantilesState(spark, s"$base/state").get
          .collect().toSet == want, s"replaying batch $id moved a quantile")
    }
    assert(Streams.tokenQuantilesState(spark, s"$base/none").isEmpty)
  }

  test("stream_token_quantiles: null text follows percentile's null rule") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tqn_").toString
    // null TEXT rows (null n_tokens — excluded from the rank order,
    // counted as docs), an ALL-null source (docs row, null
    // percentiles), and a null SOURCE group (its own GROUP BY key on
    // both engines) — the legal dirty shapes r18's ADVICE flagged
    val rows: Seq[(Long, String, String)] = Seq(
      (1L, "a", "x y z"), (2L, "a", null), (3L, "a", "x"),
      (4L, "a", "x y"), (5L, "b", null), (6L, "b", null),
      (7L, null, "p q"), (8L, null, null))
    val df = rows.toDF("doc_id", "source", "text")
    val want = df
      .select(col("source"), graft.operators.Text.wsTokenCount.as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"))
      .select(col("source"), col("docs"),
        col("q").getItem(0).as("p25"), col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p75"), col("q").getItem(3).as("p90"))
      .collect().toSet
    assert(want.size == 3)
    Seq(rows.take(3), rows.drop(3)).zipWithIndex.foreach { case (c, id) =>
      Streams.applyTokenQuantilesBatch(
        c.toDF("doc_id", "source", "text"), id.toLong, s"$base/state")
    }
    val got = Streams.tokenQuantilesState(spark, s"$base/state").get
      .collect().toSet
    assert(got == want,
      "folded quantiles diverge from batch percentile on null text/source")
  }

  test("stream_dsir: frozen-model weights equal the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_dsir_").toString
    // sf0.01, not sfTiny: the 256-bucket add-1 smoothing drowns the
    // ~1 k-token tiny corpus and every weight lands negative — the
    // both-outcomes assert below needs the bigger corpus to be
    // non-vacuous
    val docs = Tables.documents(spark, sf)
    // model frozen from the even-id seed slice (target = its en docs);
    // the odd-id "ingest" half is scored against it
    val seed = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val model = graft.api.Graft.dsirModel(seed, "text",
      col("lang") === "en").persist()
    model.count()
    val ingest = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val expected = graft.api.Graft.dsirScore(
      ingest, model, "doc_id", "text").collect().toSet
    assert(expected.nonEmpty)
    // both selection outcomes occur, or the equality below is vacuous
    assert(expected.exists(_.getBoolean(3)) && expected.exists(!_.getBoolean(3)),
      "seed model must select some ingest docs and reject others")
    val rows = ingest.orderBy("doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = Streams.dsirSink(stream, model, s"$base/state",
      s"$base/ckpt").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.dsirWeightsSoFar(spark, s"$base/state").get
    assert(got.collect().toSet == expected,
      "streamed frozen-model weights != the batch scorer on the same model")
    // replaying the LAST batch must be a fixpoint (pure overwrite)
    val lastId = new java.io.File(s"$base/state/weights").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    Streams.applyDsirBatch(
      rows.grouped((rows.size + 2) / 3).toSeq.last.toDF("doc_id", "text"),
      lastId, model, s"$base/state", "doc_id", "text")
    assert(Streams.dsirWeightsSoFar(spark, s"$base/state").get
      .collect().toSet == expected, "replayed batch mutated the weights")
    // no weights before any batch
    assert(Streams.dsirWeightsSoFar(spark, s"$base/none").isEmpty)
    model.unpersist()
  }

  test("stream_quality_lm: frozen-model scores equal the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_qlm_").toString
    val docs = Tables.documents(spark, sfTiny)
    // model frozen from the even-id seed slice; the odd-id "ingest"
    // half carries OOV words relative to it — the rule must hold
    val seed = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val model = graft.api.Graft.unigramModel(seed, "text")
      .persist()
    model.count()
    val ingest = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val expected = graft.api.Graft.scoreQualityLm(
      ingest, model, "doc_id", "text").collect().toSet
    assert(expected.nonEmpty)
    val rows = ingest.orderBy("doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = Streams.qualityLmSink(stream, model, s"$base/state",
      s"$base/ckpt").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.qualityLmScores(spark, s"$base/state").get
    assert(got.collect().toSet == expected,
      "streamed frozen-model scores != the batch scorer on the same model")
    // replaying the LAST batch must be a fixpoint (pure overwrite)
    val lastId = new java.io.File(s"$base/state/scores").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    Streams.applyQualityLmBatch(
      rows.grouped((rows.size + 2) / 3).toSeq.last.toDF("doc_id", "text"),
      lastId, model, s"$base/state", "doc_id", "text")
    assert(Streams.qualityLmScores(spark, s"$base/state").get
      .collect().toSet == expected, "replayed batch mutated the scores")
    // no scores before any batch
    assert(Streams.qualityLmScores(spark, s"$base/none").isEmpty)
    model.unpersist()
  }

  test("stream_quality_classifier: frozen-probe scores equal the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_qcls_").toString
    val docs = Tables.documents(spark, sfTiny)
    // probe fit FROZEN on the even-id labeled slice (sources hashing
    // ≡ 0 mod 4 play the curated side — the #195 gate rule); the
    // odd-id "ingest" half is scored against it
    graft.api.Graft.install(spark)
    val seed = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val model = graft.api.Graft.qualityClassifierModel(seed, "doc_id",
      "text", pmod(call_function("poly_hash", col("source")), lit(4L)) === 0)
      .persist()
    model.count()
    val ingest = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val expected = graft.api.Graft.qualityClassifierScore(
      ingest, model, "doc_id", "text").collect().toSet
    assert(expected.nonEmpty)
    val rows = ingest.orderBy("doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = Streams.qualityClassifierSink(stream, model, s"$base/state",
      s"$base/ckpt").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.qualityClassifierScores(spark, s"$base/state").get
    assert(got.collect().toSet == expected,
      "streamed frozen-probe scores != the batch scorer on the same model")
    // replaying the LAST batch must be a fixpoint (pure overwrite)
    val lastId = new java.io.File(s"$base/state/scores").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    Streams.applyQualityClassifierBatch(
      rows.grouped((rows.size + 2) / 3).toSeq.last.toDF("doc_id", "text"),
      lastId, model, s"$base/state", "doc_id", "text")
    assert(Streams.qualityClassifierScores(spark, s"$base/state").get
      .collect().toSet == expected, "replayed batch mutated the scores")
    // no scores before any batch
    assert(Streams.qualityClassifierScores(spark, s"$base/none").isEmpty)
    model.unpersist()
  }

  test("stream_corpus_drift: summed micro-batch histograms equal the batch readout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_drift_").toString
    // the same snapshot slices the gated #122 computes (hash31 mod
    // 20 / 17), tokens by the same whitespace rule
    val toks = size(filter(split(col("text"), " "), t => t =!= "")).cast("long")
    val d = Tables.documents(spark, sfTiny)
      .where(col("doc_id").isNotNull)
      .withColumn("h", graft.operators.Corpus.hash31(col("doc_id")))
      .select(col("doc_id"), col("source"), col("h"), toks.as("n_tokens"))
    val oldSnap = d.where(pmod(col("h"), lit(20)) =!= 0)
    val newSnap = d.where(pmod(col("h"), lit(17)) =!= 0)
    val oldHist = graft.api.Graft.driftHistogram(oldSnap, "source", "n_tokens")
    // zero-batch sweep: an empty new snapshot, not a crash
    val zero = Streams.corpusDriftSweep(spark, oldHist, s"$base/never")
    assert(zero.agg(sum("docs_new")).head.getLong(0) == 0L &&
      zero.where(col("len_l1_drift").isNotNull).count() == 0,
      "zero-batch sweep must read as an empty new snapshot")
    // the histogram-pair form IS the gated single-scan readout
    val expected = SparkEntry.queries("q_corpus_drift")(spark, sfTiny)
      .collect().toSet
    val pairForm = graft.api.Graft.corpusDriftFromHistograms(oldHist,
      graft.api.Graft.driftHistogram(newSnap, "source", "n_tokens"))
      .collect().toSet
    assert(pairForm == expected,
      "histogram-pair drift diverged from the gated single-scan form")
    // stream the new snapshot in 3 chunks; sweep must equal the batch
    val rows = newSnap.orderBy("doc_id")
      .select("source", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    val ms = MemoryStream[(String, Long)]
    val stream = ms.toDF().toDF("source", "n_tokens")
    val q = Streams.corpusDriftSink(stream, s"$base/state", s"$base/ckpt")
      .start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val swept = Streams.corpusDriftSweep(spark, oldHist, s"$base/state")
    assert(swept.collect().toSet == expected,
      "streamed drift sweep != the batch q_corpus_drift readout")
    // replaying the LAST batch (at-least-once) must be a fixpoint
    val lastId = new java.io.File(s"$base/state/drift").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val lastChunk = rows.grouped((rows.size + 2) / 3).toSeq.last
    Streams.applyCorpusDriftBatch(
      lastChunk.toDF("source", "n_tokens"), lastId,
      s"$base/state", "source", "n_tokens")
    assert(Streams.corpusDriftSweep(spark, oldHist, s"$base/state")
      .collect().toSet == expected, "replayed batch mutated the drift")
  }

  test("stream_dedup_semantic: micro-batch verdicts equal the one-shot ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sem_").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.api.Graft.kmeansCentroids(emb, "vec_id", "v", 8, 2)
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val ms = MemoryStream[(Long, Seq[Double])]
    val stream = ms.toDF().toDF("vec_id", "v")
    val q = Streams.semanticDedupSink(stream, cents,
      s"$base/state", s"$base/ckpt").start()
    try {
      // id-ordered micro-batches: every batch's store is exactly the
      // ids below it, the precondition for one-shot equivalence
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.semanticDedupVerdicts(spark, s"$base/state").get
    val emptyStore = graft.api.Graft.ivfIndex(emb.limit(0), "vec_id", "v",
      cents, "cent_id", "cv")
    val want = graft.api.Graft.semanticDedupIncremental(emptyStore, cents,
      "cent_id", "cv", emb, "vec_id", "v", 0.45)
    assert(got.count() > 0, "no verdicts emitted — corpus has semantic dups")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streamed verdicts != the whole corpus ingested in one batch")
    // replaying the LAST ingest (foreachBatch at-least-once) must not
    // change the verdict set: the base read excludes batch >= id and
    // the writes overwrite the same partitions
    val lastId = new java.io.File(s"$base/state/index").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applySemanticBatch(
      spark.read.parquet(s"$base/state/index/batch=$lastId")
        .select(col("id").as("vec_id"), col("vec").as("v")),
      lastId, cents, s"$base/state", "vec_id", "v", 0.45)
    val after = Streams.semanticDedupVerdicts(spark, s"$base/state").get
      .collect().toSet
    assert(after == before, "replayed ingest mutated the verdicts")
  }

  test("stream_ivf_balance: folded partials equal the batch balance, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ivfb_").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.api.Graft.kmeansCentroids(emb, "vec_id", "v", 8, 2)
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    // the Option encoder makes v's elements nullable, so the spec can
    // plant the null-ELEMENT poison too (cosine_sim reads a null
    // element as 0.0, so only the sink's explicit exists-check drops it)
    val ms = MemoryStream[(Long, Seq[Option[Double]])]
    val q = Streams.ivfBalanceSink(ms.toDF().toDF("vec_id", "v"), cents,
      s"$base/state", s"$base/ckpt").start()
    // poisoned vectors ride the FIRST batch: zero-norm, NULL,
    // dim-mismatched, and null-element ingest must not be counted
    // (the usable-vector convention the batch #164 readout states) —
    // without the sink's filter they would all pile into the lowest
    // cent_id's cell
    val poison = Seq(
      (900L, Seq.fill(64)(Option(0.0))),
      (901L, null.asInstanceOf[Seq[Option[Double]]]),
      (902L, Seq(Option(1.0), Option(2.0))),
      (903L, Seq.fill[Option[Double]](64)(Option(1.0)).updated(3, None)))
    val chunks = rows
      .map { case (id, v) => (id, v.map(Option(_))) }
      .grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        ms.addData(if (i == 0) c ++ poison else c)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.ivfBalanceState(spark, s"$base/state").get
    // integer partials are additive under any batch split, so the fold
    // equals the one-shot batch balance EXACTLY (shares divide the
    // same integers — bit-identical doubles)
    val want = graft.api.Graft.ivfCellBalance(
      graft.api.Graft.ivfIndex(emb, "vec_id", "v", cents, "cent_id", "cv"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "maintained balance != the batch readout over the full corpus")
    // replaying the LAST ingest (foreachBatch at-least-once) must be a
    // fixpoint: the write overwrites its own batch partition
    val lastId = new java.io.File(s"$base/state/cells").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applyIvfBalanceBatch(chunks.last.toDF("vec_id", "v"), lastId,
      cents, s"$base/state", "vec_id", "v")
    val after = Streams.ivfBalanceState(spark, s"$base/state").get
      .collect().toSet
    assert(after == before, "replayed ingest mutated the balance")
  }

  test("stream_dedup_winnow: ingested verdicts equal the batch pair surface, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_winn_").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val rows = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val q = Streams.winnowDedupSink(ms.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/ckpt").start()
    // id-ordered chunks: every pair's larger id arrives no earlier
    // than its smaller id, so each batch pair surfaces exactly once
    // (id_new = the later/larger doc — the #61 keep-first discipline)
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.winnowVerdicts(spark, s"$base/state").get
      .select(col("id_old").as("doc_a"), col("id_new").as("doc_b"),
        col("inter").as("shared"), col("jaccard"))
    val want = graft.api.Graft.winnowPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "shared", "jaccard")
    assert(want.count() > 0, "corpus lost its planted near-dups")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "ingested winnow verdicts drifted from the batch pair surface")
    // replaying the LAST ingest (foreachBatch at-least-once) must be a
    // fixpoint: both writes overwrite their own batch partition, and
    // the base read excludes the replayed batch's own index
    val lastId = new java.io.File(s"$base/state/index").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applyWinnowBatch(chunks.last.toDF("doc_id", "text"), lastId,
      s"$base/state", "doc_id", "text",
      graft.operators.Dedup.WinnowK, graft.operators.Dedup.WinnowW,
      graft.operators.Dedup.WinnowTau,
      graft.operators.Dedup.WinnowDfCap.toInt)
    val after = Streams.winnowVerdicts(spark, s"$base/state").get
      .select(col("id_old").as("doc_a"), col("id_new").as("doc_b"),
        col("inter").as("shared"), col("jaccard")).collect().toSet
    assert(after == before, "replayed ingest mutated the verdicts")
    // before any batch: no readout
    assert(Streams.winnowVerdicts(spark,
      java.nio.file.Files.createTempDirectory("graft_winn_e_").toString).isEmpty)
  }

  test("stream_ivf_sq_ingest: maintained index == one-shot ivfSqIndex; served top-k identical; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ivfsq_").toString
    graft.api.Graft.install(spark)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .where(call_function("usable_vec", col("v"), lit(64)))
    // FROZEN artifacts fitted once offline (the #130/#196 rule):
    // centroids + residual bounds
    val cents = graft.api.Graft.kmeansCentroids(emb, "vec_id", "v",
      k = 8, iters = 2).localCheckpoint(true)
    val bounds = graft.api.Graft.ivfSqBounds(emb, "vec_id", "v",
      cents, "cent_id", "cv", 64).localCheckpoint(true)
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfSqIndexSink(ms.toDF().toDF("vec_id", "v"),
      cents, bounds, s"$base/state", s"$base/ckpt", dim = 64).start()
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    // frozen artifacts make the encode a pure per-row function, so the
    // maintained index is BIT-IDENTICAL to the one-shot build
    val got = Streams.ivfSqIndexState(spark, s"$base/state").get.persist()
    val want = graft.api.Graft.ivfSqIndex(emb, "vec_id", "v",
      cents, "cent_id", "cv", bounds, 64).persist()
    assert(got.count() == rows.size)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "maintained IVFxSQ index != the one-shot build")
    // ...and SERVING off the maintained state equals serving off the
    // one-shot index (the state is directly ivfSqQuery-servable)
    val q10 = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def serve(ix: org.apache.spark.sql.DataFrame) =
      graft.api.Graft.ivfSqQuery(ix, cents, "cent_id", "cv", bounds,
        q10, "qid", "qv", k = 5, nprobe = 2, excludeSelf = true)
    val sGot = serve(got)
    val sWant = serve(want)
    assert(sGot.exceptAll(sWant).count() == 0 &&
      sWant.exceptAll(sGot).count() == 0,
      "serving off the maintained state drifted from the one-shot index")
    // replay fixpoint: re-landing an old and the last batch
    val frozenC = cents
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyIvfSqBatch(chunk.toDF("vec_id", "v"), id.toLong,
          frozenC, bounds, s"$base/state", 64, "vec_id", "v",
          "cent_id", "cv", residual = true)
        val after = Streams.ivfSqIndexState(spark, s"$base/state").get
        assert(after.exceptAll(want).count() == 0 &&
          want.exceptAll(after).count() == 0,
          s"replaying batch $id mutated the index")
    }
    // flavor discipline holds at ingest too: raw bounds into the
    // residual sink refuse per batch
    val bad = intercept[IllegalArgumentException] {
      Streams.applyIvfSqBatch(chunks.head.toDF("vec_id", "v"), 99L,
        frozenC, graft.api.Graft.sqBounds(emb, "vec_id", "v", 64),
        s"$base/state2", 64, "vec_id", "v", "cent_id", "cv",
        residual = true)
    }
    assert(bad.getMessage.contains("fit_residual"))
    // before any batch: no readout
    assert(Streams.ivfSqIndexState(spark,
      java.nio.file.Files.createTempDirectory("graft_ivfsq_e_").toString).isEmpty)
    // PER-CELL bounds (#211) flow through the SAME sink unchanged:
    // frozen k x dim bounds freeze to a LocalRelation like the global
    // ones, the encode detects the cell column, and the maintained
    // index still equals the one-shot per-cell build bit-exactly
    val cellBounds = graft.api.Graft.ivfSqBoundsPerCell(emb, "vec_id",
      "v", cents, "cent_id", "cv", 64).localCheckpoint(true)
    Seq(0 -> chunks.head, 1 -> chunks.drop(1).flatten).foreach {
      case (id, chunk) =>
        Streams.applyIvfSqBatch(chunk.toIndexedSeq.toDF("vec_id", "v"),
          id.toLong, frozenC, cellBounds, s"$base/stateCell", 64,
          "vec_id", "v", "cent_id", "cv", residual = true)
    }
    val gotCell = Streams.ivfSqIndexState(spark, s"$base/stateCell").get
    val wantCell = graft.api.Graft.ivfSqIndex(emb, "vec_id", "v",
      cents, "cent_id", "cv", cellBounds, 64)
    assert(gotCell.exceptAll(wantCell).count() == 0 &&
      wantCell.exceptAll(gotCell).count() == 0,
      "maintained PER-CELL IVFxSQ index != the one-shot per-cell build")
    got.unpersist(); want.unpersist()
  }

  test("stream_ivf_sq_ingest: kill-mid-batch + restart from checkpoint converges") {
    // the chaos case for the maintained ANN index: the dying
    // incarnation left a PARTIAL index/batch=1 partition (half the
    // batch's code rows — a torn multi-file write); the restarted
    // incarnation re-encodes the whole batch as the same id, the
    // overwrite replaces the partial partition, and BOTH the folded
    // index and a served top-k equal the one-shot build over all rows.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.api.Graft.install(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_ivfsqk_").toString
    val emb = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .where(call_function("usable_vec", col("v"), lit(64)))
    val cents = graft.api.Graft.kmeansCentroids(emb, "vec_id", "v",
      k = 8, iters = 2).localCheckpoint(true)
    val bounds = graft.api.Graft.ivfSqBounds(emb, "vec_id", "v",
      cents, "cent_id", "cv", 64).localCheckpoint(true)
    val want = graft.api.Graft.ivfSqIndex(emb, "vec_id", "v",
      cents, "cent_id", "cv", bounds, 64).persist()
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    val ms = MemoryStream[(Long, Seq[Double])]
    def start() = Streams.ivfSqIndexSink(ms.toDF().toDF("vec_id", "v"),
      cents, bounds, s"$base/state", s"$base/ckpt", dim = 64).start()
    val qa = start()
    try { ms.addData(chunks(0)); qa.processAllAvailable() } finally qa.stop()
    // torn write: only HALF of chunk 1 landed as batch 1 before death
    ms.addData(chunks(1))
    Streams.applyIvfSqBatch(
      chunks(1).take(chunks(1).size / 2).toDF("vec_id", "v"), 1L,
      cents, bounds, s"$base/state", 64, "vec_id", "v",
      "cent_id", "cv", residual = true)
    val torn = Streams.ivfSqIndexState(spark, s"$base/state").get
    assert(torn.count() < rows.size, "precondition: state must be torn")
    // restart repairs batch 1 and carries on with chunk 2
    val qb = start()
    try {
      qb.processAllAvailable()
      ms.addData(chunks(2)); qb.processAllAvailable()
    } finally qb.stop()
    val got = Streams.ivfSqIndexState(spark, s"$base/state").get.persist()
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "post-crash folded index != the one-shot build")
    val q10 = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def serve(ix: org.apache.spark.sql.DataFrame) =
      graft.api.Graft.ivfSqQuery(ix, cents, "cent_id", "cv", bounds,
        q10, "qid", "qv", k = 5, nprobe = 2, excludeSelf = true)
    assert(serve(got).exceptAll(serve(want)).count() == 0 &&
      serve(want).exceptAll(serve(got)).count() == 0,
      "post-crash serving drifted from the one-shot index")
    got.unpersist(); want.unpersist()
  }

  test("stream_dim_freshness: kill-mid-batch + restart re-enriches the torn batch at the current dim") {
    // chaos for the enrichment sink: the dying incarnation landed a
    // PARTIAL enriched/batch=1 (half the facts); the dim then moves
    // on BEFORE the restart. The re-delivered batch overwrites the
    // torn partition and — by the freshness contract — re-enriches at
    // the dim AS OF the re-run, not as of the crash.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_dimfk_").toString
    graft.sinks.Sinks.upsert(
      Seq((1L, 1L, "old")).toDF("sku_id", "ver", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver")
    val ms = MemoryStream[(Long, Long)]
    def start() = Streams.dimEnrichSink(ms.toDF().toDF("order_id", "sku_id"),
      s"$base/dim", s"$base/state", s"$base/ckpt", "sku_id", "sku_id").start()
    val qa = start()
    try { ms.addData(Seq((100L, 1L))); qa.processAllAvailable() } finally qa.stop()
    // batch 1 enqueued; the dying incarnation landed only its first row
    ms.addData(Seq((101L, 1L), (102L, 1L)))
    Streams.applyDimEnrichBatch(Seq((101L, 1L)).toDF("order_id", "sku_id"),
      1L, s"$base/dim", s"$base/state", "sku_id", "sku_id")
    // the dim moves on between crash and restart
    graft.sinks.Sinks.upsert(
      Seq((1L, 2L, "new")).toDF("sku_id", "ver", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver")
    val qb = start()
    try { qb.processAllAvailable() } finally qb.stop()
    val got = Streams.dimEnrichedState(spark, s"$base/state").get
      .select("order_id", "sku_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 100 keeps its pre-update enrichment (its batch committed before
    // the change); BOTH rows of the torn batch re-enrich at the NEW
    // dim — including 101, whose torn copy saw the old one
    assert(got == Map(100L -> "old", 101L -> "new", 102L -> "new"),
      s"post-crash enrichment wrong: $got")
  }

  test("stream_dim_freshness: broadcast guard refuses a dim past maxDimBytes; plain-join fallback enriches identically") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dimbg_").toString
    graft.sinks.Sinks.upsert(
      Seq((1L, 1L, "alpha"), (2L, 1L, "beta")).toDF("sku_id", "ver", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver")
    val facts = Seq((100L, 1L), (101L, 2L), (102L, 3L))
      .toDF("order_id", "sku_id")
    // the refusal: a 1-byte cap trips on any real snapshot, names the
    // measured size and the escape hatch, and lands NOTHING
    val refusal = intercept[IllegalArgumentException] {
      Streams.applyDimEnrichBatch(facts, 0L, s"$base/dim", s"$base/stateA",
        "sku_id", "sku_id", maxDimBytes = 1L)
    }
    assert(refusal.getMessage.contains("maxDimBytes"))
    assert(refusal.getMessage.contains("broadcastDim"))
    assert(Streams.dimEnrichedState(spark, s"$base/stateA").isEmpty,
      "a refused batch must not land enriched rows")
    // the fallback: broadcastDim = false under the same tiny cap
    // (cap only guards the collect+broadcast path) == the default path
    Streams.applyDimEnrichBatch(facts, 0L, s"$base/dim", s"$base/stateB",
      "sku_id", "sku_id")
    Streams.applyDimEnrichBatch(facts, 0L, s"$base/dim", s"$base/stateC",
      "sku_id", "sku_id", maxDimBytes = 1L, broadcastDim = false)
    val want = Streams.dimEnrichedState(spark, s"$base/stateB").get
      .collect().toSet
    val gotPlain = Streams.dimEnrichedState(spark, s"$base/stateC").get
      .collect().toSet
    assert(want.nonEmpty && gotPlain == want,
      "plain-join fallback diverged from the broadcast path")
  }

  test("stream_dim_freshness: plain-path torn read aborts pre-commit; the replay lands the good snapshot") {
    // r19 verdict item 4 / VERDICT What's-wrong 4: broadcastDim =
    // false has NO in-place retry BY DESIGN — a swap-window read
    // failure must abort the whole batch BEFORE the enriched write
    // commits (checkpoint unadvanced), and the foreachBatch replay
    // at the healed snapshot is the recovery path. This spec is that
    // comment-level contract made executable.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dimpt_").toString
    graft.sinks.Sinks.upsert(
      Seq((1L, 1L, "good")).toDF("sku_id", "ver", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver")
    // tear the snapshot from the reader's point of view: stash the
    // real data files, leave unreadable bytes in their place (the
    // worst case of a maintainer's in-flight rewrite)
    val dimDir = new java.io.File(s"$base/dim")
    val stash = java.nio.file.Files.createTempDirectory("graft_dimpt_stash_")
    dimDir.listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath, stash.resolve(f.getName))
        java.nio.file.Files.write(f.toPath,
          "not a parquet file".getBytes("UTF-8"))
      }
    val facts = Seq((100L, 1L)).toDF("order_id", "sku_id")
    intercept[Exception] {
      Streams.applyDimEnrichBatch(facts, 0L, s"$base/dim", s"$base/state",
        "sku_id", "sku_id", broadcastDim = false)
    }
    assert(Streams.dimEnrichedState(spark, s"$base/state").isEmpty,
      "an aborted plain-path batch must land NOTHING — a torn " +
        "enrichment silently committed breaks the checkpoint contract")
    // the maintainer's swap completes; foreachBatch replays the SAME
    // batch id and the overwrite-by-batchId discipline makes it a
    // clean landing, enriched at the healed snapshot
    dimDir.listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .foreach { f =>
        java.nio.file.Files.copy(stash.resolve(f.getName), f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    Streams.applyDimEnrichBatch(facts, 0L, s"$base/dim", s"$base/state",
      "sku_id", "sku_id", broadcastDim = false)
    val got = Streams.dimEnrichedState(spark, s"$base/state").get
      .select("order_id", "sku_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(100L -> "good"), s"replay enrichment wrong: $got")
  }

  test("stream_pq_usage: folded partials equal the one-shot encode usage, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_pqu_").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the FROZEN artifact: a real k-means codebook fitted once offline
    val books = graft.api.Graft.pqCodebooks(emb, "vec_id", "v",
      dim = 64, m = 8, k = 8, iters = 2)
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val ms = MemoryStream[(Long, Seq[Option[Double]])]
    val q = Streams.pqUsageSink(ms.toDF().toDF("vec_id", "v"), books,
      s"$base/state", s"$base/ckpt").start()
    // poisoned ingest (NULL vector, dim skew, null element) must not
    // be counted — the encode's usable rule; zero-norm IS countable
    // here (L2 quantization of the origin is legitimate — the gate's
    // extra dot>0 rule is the IVF serving convention, not PQ's)
    val poison = Seq(
      (901L, null.asInstanceOf[Seq[Option[Double]]]),
      (902L, Seq(Option(1.0), Option(2.0))),
      (903L, Seq.fill[Option[Double]](64)(Option(1.0)).updated(3, None)))
    val chunks = rows
      .map { case (id, v) => (id, v.map(Option(_))) }
      .grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        ms.addData(if (i == 0) c ++ poison else c)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.pqUsageState(spark, s"$base/state").get
    // frozen codebook ⟹ the encode is a pure per-vector function ⟹
    // integer partials are additive under any batch split: the fold
    // equals the one-shot encode aggregate EXACTLY (shares divide the
    // same integers — bit-identical doubles)
    val enc = graft.api.Graft.pqEncode(emb, "vec_id", "v", books)
    val cnt = enc.select(posexplode(col("codes")).as(Seq("subspace", "code")))
      .groupBy("subspace", "code").agg(count(lit(1)).as("n_vecs"))
    val tot = cnt.where(col("subspace") === 0).agg(sum("n_vecs").as("tot"))
    val want = cnt.crossJoin(tot)
      .withColumn("share", col("n_vecs").cast("double") / col("tot"))
      .select(col("subspace").cast("int").as("subspace"), col("code"),
        col("n_vecs"), col("share"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "maintained usage != the one-shot encode aggregate")
    // replaying the LAST ingest (foreachBatch at-least-once) must be a
    // fixpoint: the write overwrites its own batch partition
    val lastId = new java.io.File(s"$base/state/usage").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applyPqUsageBatch(chunks.last.toDF("vec_id", "v"), lastId,
      books, s"$base/state", "vec_id", "v")
    val after = Streams.pqUsageState(spark, s"$base/state").get
      .collect().toSet
    assert(after == before, "replayed ingest mutated the usage")
    // before any batch: no readout
    assert(Streams.pqUsageState(spark,
      java.nio.file.Files.createTempDirectory("graft_pqu_e_").toString).isEmpty)
  }

  test("stream_sq_clip: folded clip partials equal the one-shot encode; drift raises hi_rate; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sqc_").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the FROZEN artifact: exact per-dimension bounds fitted once
    val bounds = graft.api.Graft.sqBounds(emb, "vec_id", "v", 64)
      .localCheckpoint(true)
    val rows = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val ms = MemoryStream[(Long, Seq[Option[Double]])]
    val q = Streams.sqClipSink(ms.toDF().toDF("vec_id", "v"), bounds,
      s"$base/state", s"$base/ckpt").start()
    // poisoned ingest (null vector, dim skew, null element) produces
    // no code row — the encode's usable rule
    val poison = Seq(
      (901L, null.asInstanceOf[Seq[Option[Double]]]),
      (902L, Seq(Option(1.0), Option(2.0))),
      (903L, Seq.fill[Option[Double]](64)(Option(1.0)).updated(3, None)))
    val chunks = rows
      .map { case (id, v) => (id, v.map(Option(_))) }
      .grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        ms.addData(if (i == 0) c ++ poison else c)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.sqClipState(spark, s"$base/state").get
    // frozen bounds ⟹ the encode is a pure per-vector function ⟹
    // integer boundary counts are additive under any batch split
    val enc = graft.api.Graft.sqEncode(emb, "vec_id", "v", bounds, 64)
    val want = enc.select(posexplode(col("codes")).as(Seq("d", "code")))
      .groupBy("d").agg(count(lit(1)).as("n_vecs"),
        sum(when(col("code") === lit(-128), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("code") === lit(127), 1L).otherwise(0L)).as("n_hi"))
      .select(col("d").cast("int").as("d"), col("n_vecs"),
        col("n_lo"), col("n_hi"),
        (col("n_lo").cast("double") / col("n_vecs")).as("lo_rate"),
        (col("n_hi").cast("double") / col("n_vecs")).as("hi_rate"),
        ((col("n_lo") + col("n_hi")).cast("double") / col("n_vecs"))
          .as("clip_rate"))
    assert(got.count() == 64)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "maintained clip readout != the one-shot encode aggregate")
    // at the fit corpus the boundary levels are occupied (min → level
    // 0, max clamps to 255 by construction) but the rate is small
    val worstClip = got.agg(max("clip_rate")).head.getDouble(0)
    assert(worstClip < 0.2,
      s"fit-corpus clip rate $worstClip — the baseline should be small")
    // DRIFT: a batch shifted past every dimension's hi must clip high
    // on (essentially) every element — the alarm the sink exists for
    val driftBase = java.nio.file.Files.createTempDirectory("graft_sqc_d_").toString
    val shifted = emb.limit(50).select(col("vec_id"),
      transform(col("v"), x => x + lit(1e6)).as("v"))
    Streams.applySqClipBatch(shifted, 0L, bounds, 64,
      s"$driftBase/state", "vec_id", "v")
    val drifted = Streams.sqClipState(spark, s"$driftBase/state").get
    val minHi = drifted.agg(min("hi_rate")).head.getDouble(0)
    assert(minHi == 1.0,
      s"a +1e6 shift must clip every element high, got min hi_rate $minHi")
    // replaying the LAST ingest must be a fixpoint (overwrite by batch)
    val lastId = new java.io.File(s"$base/state/clip").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applySqClipBatch(chunks.last.toDF("vec_id", "v"), lastId,
      bounds, 64, s"$base/state", "vec_id", "v")
    val after = Streams.sqClipState(spark, s"$base/state").get
      .collect().toSet
    assert(after == before, "replayed ingest mutated the clip state")
    // before any batch: no readout
    assert(Streams.sqClipState(spark,
      java.nio.file.Files.createTempDirectory("graft_sqc_e_").toString).isEmpty)
  }

  test("stream_term_counts_cms: folded sketch is bit-identical to the one-shot build, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cms_").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val rows = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val q = Streams.cmsSink(ms.toDF().toDF("doc_id", "text"),
      depth = 4, width = 16, s"$base/state", s"$base/ckpt").start()
    // poisoned ingest: null text tokenizes to nothing, a whitespace-
    // only doc contributes no words
    val poison = Seq((901L, null.asInstanceOf[String]), (902L, "   "))
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        ms.addData(if (i == 0) c ++ poison else c)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = Streams.cmsState(spark, s"$base/state").get.persist()
    // CMS counters are additive contractions, so the micro-batch fold
    // is EXACT: bit-identical to the one-shot sketch over everything
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val want = graft.api.Graft.cmsSketch(words, "word", 4, 16)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "maintained sketch != the one-shot build")
    // the folded state serves estimates directly (markers intact) and
    // agrees with estimates off the one-shot sketch
    val exact = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
    val estGot = graft.api.Graft.cmsEstimate(got, exact, "word", 4, 16)
    val estWant = graft.api.Graft.cmsEstimate(want, exact, "word", 4, 16)
    assert(estGot.exceptAll(estWant).count() == 0 &&
      estWant.exceptAll(estGot).count() == 0,
      "estimates off the maintained state drifted")
    // replaying the LAST ingest must be a fixpoint (overwrite by batch)
    val lastId = new java.io.File(s"$base/state/cms").listFiles()
      .map(_.getName.stripPrefix("batch=").toLong).max
    val before = got.collect().toSet
    Streams.applyCmsBatch(chunks.last.toDF("doc_id", "text"), lastId,
      4, 16, s"$base/state", "text")
    val after = Streams.cmsState(spark, s"$base/state").get
      .collect().toSet
    assert(after == before, "replayed ingest mutated the sketch")
    got.unpersist()
    // before any batch: no readout
    assert(Streams.cmsState(spark,
      java.nio.file.Files.createTempDirectory("graft_cms_e_").toString).isEmpty)
  }

  test("stream_user_jump emits via event-time timeout when a user goes silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    def ev(id: Long, user: Long, typ: String, tsUs: Long) =
      LogEvent(id, user, typ, new java.sql.Timestamp(tsUs / 1000), tsUs, 0.0, null)
    val hourUs = 3600L * 1000 * 1000
    val out = runAppend(ms, Streams.userJumps(ms.toDS()), "uj_timeout", Seq(
      // user 1 views and then goes silent forever
      Seq(ev(1, 1, "view", hourUs)),
      // OTHER users' traffic advances the watermark past 1's timeout;
      // a third batch lets the timed-out state fire
      Seq(ev(2, 2, "click", 3 * hourUs)),
      Seq(ev(3, 2, "click", 4 * hourUs))))
    val jumps = out.select("event_id").collect().map(_.getLong(0)).toSet
    assert(jumps.contains(1L),
      s"silent user's pending view must surface as a timeout jump, got $jumps")
  }

  test("stream_user_jump: a late pre-view event neither satisfies nor cancels the pending view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    def ev(id: Long, user: Long, typ: String, tsUs: Long) =
      LogEvent(id, user, typ, new java.sql.Timestamp(tsUs / 1000), tsUs, 0.0, null)
    val minUs = 60L * 1000 * 1000
    val out = runAppend(ms, Streams.userJumps(ms.toDS()), "uj_late", Seq(
      // view at t=60min becomes pending
      Seq(ev(1, 1, "view", 60 * minUs)),
      // batch 2: a LATE click from t=55min (before the view; within the
      // 10-min watermark allowance so it is not dropped) — must be
      // ignored by the pending-state machine
      Seq(ev(2, 1, "click", 55 * minUs)),
      // the real follow-up arrives 20min after the view → jump
      Seq(ev(3, 1, "click", 80 * minUs))))
    val jumps = out.select("event_id").collect().map(_.getLong(0)).toSet
    assert(jumps == Set(1L),
      s"late pre-view event corrupted pending-view state: $jumps")
  }

  test("stream_visitor_stats append mode drops late data past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    def ev(id: Long, user: Long, tsUs: Long) =
      LogEvent(id, user, "view", new java.sql.Timestamp(tsUs / 1000), tsUs, 1.0, null)
    val hourUs = 3600L * 1000 * 1000
    val q = Streams.visitorStats(ms.toDF()).writeStream
      .format("memory").queryName("vs_late").outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, 1, hourUs), ev(2, 2, hourUs + 1))); q.processAllAvailable()
      // watermark (1h delay) moves past the first window's end → finalize
      ms.addData(Seq(ev(3, 3, 4 * hourUs))); q.processAllAvailable()
      val afterFinalize = spark.table("vs_late").where(col("pv") === 2).count()
      assert(afterFinalize == 1, "first window must finalize with pv=2")
      // an hours-late event for the closed window must be dropped
      ms.addData(Seq(ev(4, 4, hourUs + 2))); q.processAllAvailable()
      ms.addData(Seq(ev(5, 3, 6 * hourUs))); q.processAllAvailable()
      val rows = spark.table("vs_late")
        .select("window_start", "pv").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
      assert(!rows.exists { case (_, pv) => pv == 3 } &&
        rows.count(_._2 == 2L) == 1,
        s"late event must not reopen or re-emit the closed window: $rows")
    } finally q.stop()
  }

  test("stream_unique_visit state survives a restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, tsUs: Long) =
      LogEvent(id, user, "view", new java.sql.Timestamp(tsUs / 1000), tsUs, 0.0, null)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_uv_ckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_uv_out_").toString
    val hourUs = 3600L * 1000 * 1000
    val ms = MemoryStream[LogEvent]
    // parquet sink, not memory: the memory sink refuses checkpoint
    // recovery (it is not fault-tolerant), and recovery is the point
    def start() = Streams.uniqueVisits(ms.toDS())
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // first incarnation: user 1's first visit of the day emits
    val q1 = start()
    try { ms.addData(ev(1, 1L, hourUs)); q1.processAllAvailable() }
    finally q1.stop()
    // second incarnation, same checkpoint: a LATER event of the same
    // user on the same day must be recognized as a duplicate — the
    // per-user day set has to come back from the state store, not from
    // memory of the first incarnation
    val q2 = start()
    try {
      ms.addData(ev(2, 1L, hourUs * 2), ev(3, 2L, hourUs * 2))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(outDir).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 3L)),
      s"restart must keep user 1's day state and emit only user 2's first: $out")
  }

  test("stream_dedup_exact drops in-horizon duplicates and re-admits expired fingerprints") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60 * 1000)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.dedupDocs(ms.toDF().toDF("doc_id", "text", "ts"))
    val q = out.writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      // t0: "a b" and its normalization-equal twin "A  b" + distinct "c"
      ms.addData((0L, "a b", ts(600)), (1L, "A  b", ts(605)), (2L, "c", ts(610)))
      q.processAllAvailable()
      // t1: same fingerprint again, still inside the 1 h horizon
      ms.addData((3L, "a b", ts(630)))
      q.processAllAvailable()
      // t2: watermark advancer (unique text, far ahead)
      ms.addData((4L, "zzz", ts(780)))
      q.processAllAvailable()
      // t3: watermark is now 780-60=720 > first-seen 600+60 — the old
      // fingerprint's state has expired, so the duplicate re-admits
      // (the documented trade of bounded state; batch dedup compacts)
      ms.addData((5L, "a b", ts(785)))
      q.processAllAvailable()
      val ids = spark.table("dedup_docs").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids == Set(0L, 2L, 4L, 5L),
        s"expected first-in wins within horizon, re-admit after expiry; got $ids")
    } finally q.stop()
  }

  test("stream media phash dedup drops a re-stored copy the byte-exact dedup cannot see") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60 * 1000)
    val bytesA = "the same decoded plane".getBytes("UTF-8")
    val bytesB = "a different image entirely".getBytes("UTF-8")
    val ms = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out = Streams.dedupMediaPhash(
      ms.toDF().toDF("doc_id", "payload", "ts"))
    val q = out.writeStream.format("memory").queryName("dedup_phash")
      .outputMode("append").start()
    try {
      // doc 0 and doc 1 carry the SAME plane (a re-stored copy); doc 2
      // is unrelated. In-horizon: first-in wins on the perceptual hash.
      ms.addData((0L, bytesA, ts(600)), (1L, bytesA.clone(), ts(605)),
        (2L, bytesB, ts(610)))
      q.processAllAvailable()
      val ids = spark.table("dedup_phash").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids == Set(0L, 2L),
        s"expected the perceptual twin dropped, got $ids")
      // the emitted hash equals the batch stage's on the same bytes
      val streamed = spark.table("dedup_phash")
        .where(col("doc_id") === 0L).select("phash").head.getLong(0)
      val batch = graft.operators.Multimodal.phashStage(
        Seq(graft.operators.MediaRecord(0L, "png", 8, 8, bytesA)).toDS())
        .head().phash
      assert(streamed == batch, "stream and batch signatures drifted")
    } finally q.stop()
  }

  test("stream_sessionize matches the batch gap sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val events = logEvents.filter(_.user_id >= 0)
    // flush sentinel per user far in the future: advances the watermark
    // past every real session's close so append mode emits them all
    val maxTs = events.map(_.ts_us).max
    val flushTs = maxTs + 48L * 3600 * 1000 * 1000
    val flush = events.map(_.user_id).distinct.map { u =>
      LogEvent(20_000_000L + u, u, "flush",
        new java.sql.Timestamp(flushTs / 1000), flushTs, 0.0, null)
    }
    val out = Streams.sessionize(ms.toDF())
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      ms.addData(events); q.processAllAvailable()
      ms.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions")
      .where(col("session_start_us") =!= flushTs) // drop the flush sessions
      .select("user_id", "session_start_us", "n_events", "duration_us")
    val want = SparkEntry.queries("q_sessionize")(spark, sfTiny)
      .where(col("user_id").isNotNull)
      .select("user_id", "session_start_us", "n_events", "duration_us")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming sessions differ from the batch gap sessionization")
  }

  test("stream_keyword_stats totals match the batch q_keyword_stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000)
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        ts(r.getLong(0) % 24))) // spread docs across 24 hourly windows
    val ms = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val out = Streams.keywordStats(
      ms.toDF().toDF("doc_id", "text", "source", "ts"))
    val q = out.writeStream.format("memory").queryName("kw")
      .outputMode("append").start()
    try {
      ms.addData(docs.toIndexedSeq); q.processAllAvailable()
      // flush far ahead so every hourly window closes
      ms.addData((-1L, "flushword", "flush", ts(1000))); q.processAllAvailable()
    } finally q.stop()
    // summed over windows, the stream must reproduce the BATCH keyword
    // operator exactly (an independent implementation, not a copy of
    // the streaming expressions) — this pins tokenizer, grouping keys,
    // and completeness; window assignment is additionally pinned below
    val got = spark.table("kw").where(col("source") =!= "flush")
    val gotTotals = got.groupBy("word", "source")
      .agg(sum("ct").as("ct")).withColumn("ct", col("ct").cast("long"))
    val want = SparkEntry.queries("q_keyword_stats")(spark, sfTiny)
    assert(gotTotals.exceptAll(want).count() == 0 &&
      want.exceptAll(gotTotals).count() == 0,
      "streaming keyword totals differ from the batch q_keyword_stats")
    // window assignment: every emitted window start must be one of the
    // 24 hour marks the docs were spread across, and each doc's words
    // land in ITS hour — check one sentinel doc end-to-end
    val sentinel = docs.head
    val sentinelWord = sentinel._2.split(' ').filter(_.nonEmpty).head
    val inWindow = got.where(col("word") === sentinelWord &&
      col("window_start") === sentinel._4).count()
    assert(inWindow > 0, "sentinel doc's words missing from its hour window")
  }

  test("stream_dim_freshness: mid-stream dim upserts reach later batches; replays never resurrect the stale dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_dimf_").toString
    // the dim store maintained by the CDC apply sink (the reference's
    // BaseDBApp -> dim table path); facts enrich per micro-batch
    val dimMs = MemoryStream[(Long, Long, String, String)]
    val dimQ = graft.sinks.Sinks.cdcApplySink(
      dimMs.toDF().toDF("sku_id", "ver", "op", "sku_name"),
      s"$base/dim", s"$base/dimckpt", Seq("sku_id"), "ver", "op",
      numBuckets = 4).start()
    val factMs = MemoryStream[(Long, Long)]
    val factQ = Streams.dimEnrichSink(
      factMs.toDF().toDF("order_id", "sku_id"),
      s"$base/dim", s"$base/state", s"$base/factckpt",
      "sku_id", "sku_id").start()
    try {
      dimMs.addData(Seq((1L, 1L, "insert", "old_name"),
        (2L, 1L, "insert", "other")))
      dimQ.processAllAvailable()
      factMs.addData(Seq((100L, 1L))); factQ.processAllAvailable()
      // the cache-invalidation moment (DimSinkFunction.java:29-37):
      // sku 1 updates BETWEEN fact micro-batches
      dimMs.addData(Seq((1L, 2L, "update", "new_name")))
      dimQ.processAllAvailable()
      factMs.addData(Seq((101L, 1L), (102L, 2L)))
      factQ.processAllAvailable()
    } finally { dimQ.stop(); factQ.stop() }
    def state() = Streams.dimEnrichedState(spark, s"$base/state").get
      .select("order_id", "sku_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // fact 100 (before the update) carries the OLD name; 101 (after)
    // the NEW one — enrichment follows the store per micro-batch,
    // which is exactly the reference's invalidated-cache re-fetch
    assert(state() == Map(100L -> "old_name", 101L -> "new_name",
      102L -> "other"), s"enrichment did not follow the dim store: ${state()}")
    // a STALE dim replay (the ver=1 batch re-applied) cannot regress
    // the snapshot — the version rule absorbs it...
    graft.sinks.Sinks.cdcApply(Seq((1L, 1L, "insert", "old_name"))
      .toDF("sku_id", "ver", "op", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver", "op", 4)
    Streams.applyDimEnrichBatch(Seq((103L, 1L)).toDF("order_id", "sku_id"),
      2L, s"$base/dim", s"$base/state", "sku_id", "sku_id")
    assert(state()(103L) == "new_name",
      "a replayed stale dim batch resurrected the old dim row")
    // ...and a FACT replay re-enriches at the LATEST snapshot (the
    // overwrite-by-batch fixpoint is at the current dim, by design —
    // landed rows are not a cache)
    Streams.applyDimEnrichBatch(Seq((100L, 1L)).toDF("order_id", "sku_id"),
      0L, s"$base/dim", s"$base/state", "sku_id", "sku_id")
    assert(state()(100L) == "new_name",
      "a replayed fact batch kept a stale enrichment")
    // no dim store yet -> loud refusal (the enriched schema is
    // dim-derived; it cannot default)
    val bad = intercept[IllegalArgumentException] {
      Streams.applyDimEnrichBatch(Seq((1L, 1L)).toDF("order_id", "sku_id"),
        0L, s"$base/nodim", s"$base/state2", "sku_id", "sku_id")
    }
    assert(bad.getMessage.contains("dim store"))
    assert(Streams.dimEnrichedState(spark, s"$base/none").isEmpty)
  }

  test("stream_product_stats enriches via stream-static broadcast and sums exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = Tables.lineitem(spark, sfTiny)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](3))))
    val part = Tables.part(spark, sfTiny)
    val ms = MemoryStream[(Long, Double, Double, java.sql.Timestamp)]
    val out = Streams.productStats(
      ms.toDF().toDF("l_partkey", "l_quantity", "l_extendedprice", "ts"), part)
    val q = out.writeStream.format("memory").queryName("ps")
      .outputMode("append").start()
    try {
      ms.addData(lines.toIndexedSeq); q.processAllAvailable()
      // flush: a real partkey far in the future closes all windows
      ms.addData((lines.head._1, 0.0, 0.0,
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    // summed over windows, the stream must agree with the BATCH
    // q_product_stats (independent formulation: it joins orders and
    // pre-aggregates at order grain) on the measures both share —
    // item_ct, quantity_sum, amount_sum per partkey. The flush row
    // contributes 0 to every sum and 1 to its partkey's item_ct, so
    // exclude its window before totaling.
    val got = spark.table("ps")
      .where(col("window_start") < java.sql.Timestamp.valueOf("2099-01-01 00:00:00"))
      .groupBy("l_partkey")
      .agg(sum("item_ct").cast("long").as("item_ct"),
        sum("quantity_sum").cast("double").as("quantity_sum"),
        sum("amount_sum").cast("double").as("amount_sum"))
    val want = SparkEntry.queries("q_product_stats")(spark, sfTiny)
      .select("l_partkey", "item_ct", "quantity_sum", "amount_sum")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming product totals differ from the batch q_product_stats")
    // brand enrichment: no partkey may carry a brand that differs from
    // the static dim (stream-static join correctness)
    val badBrand = spark.table("ps")
      .join(part.select(col("p_partkey").as("l_partkey"), col("p_brand").as("want_brand")),
        "l_partkey")
      .where(col("p_brand") =!= col("want_brand")).count()
    assert(badBrand == 0, "stream-static dim join attached a wrong brand")
  }

  test("stream_province_stats per-nation totals match an independent batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = Tables.orders(spark, sfTiny)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](3))))
    val ms = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val out = Streams.provinceStats(
      ms.toDF().toDF("o_orderkey", "o_custkey", "rev", "ts"),
      Tables.customer(spark, sfTiny), Tables.nation(spark, sfTiny))
    val q = out.writeStream.format("memory").queryName("pvs")
      .outputMode("append").start()
    try {
      ms.addData(orders.toIndexedSeq); q.processAllAvailable()
      ms.addData((orders.head._1, orders.head._2, 0.0,
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    // per-nation totals (summed over windows) must agree with an
    // independent batch computation over the same order rows — this
    // pins the customer→nation join keys and the decimal amounts, not
    // just the grand total
    val got = spark.table("pvs")
      .where(col("window_start") < java.sql.Timestamp.valueOf("2099-01-01 00:00:00"))
      .groupBy("n_name")
      .agg(sum("order_ct").cast("long").as("order_ct"),
        sum("amount").cast("double").as("amount"))
    val want = orders.toIndexedSeq.toDF("o_orderkey", "o_custkey", "rev", "ts")
      .join(Tables.customer(spark, sfTiny).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sfTiny).select("n_nationkey", "n_name"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).cast("long").as("order_ct"),
        sum(col("rev").cast("decimal(12,2)")).cast("double").as("amount"))
    assert(got.count() > 0, "no province windows emitted")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming province totals differ from the independent batch join")
  }

  test("stream_user_jump matches the batch lead()-based jump detection") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val events = logEvents.filter(_.user_id >= 0)
    // flush sentinel per user, far in the future: forces every trailing
    // pending view to see a next event > 10 min later (same effect the
    // batch lead()=NULL branch has), without relying on timeout timing.
    val maxTs = events.map(_.ts_us).max
    val flush = events.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
      LogEvent(10_000_000L + i, u, "flush",
        new java.sql.Timestamp((maxTs + 3600L * 1000 * 1000) / 1000),
        maxTs + 3600L * 1000 * 1000, 0.0, null)
    }
    val out = runAppend(ms, Streams.userJumps(ms.toDS()), "uj",
      Seq(events, flush))
    val got = out.select("event_id")
    val want = SparkEntry.queries("q_user_jump")(spark, sfTiny).select("event_id")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream jump set differs from batch")
  }

  test("stream_dedup_lines: single-batch == batch #134; split delivery is provisional; replay fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val shared = "this exact boilerplate line repeats across documents"
    val rows = Seq(
      1L -> s"unique opening one\n$shared\nunique closing one",
      2L -> s"unique opening two\n$shared\nunique closing two",
      3L -> "entirely original document\nwith two original lines")
    def plantDir(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sline_").toString
      rows.map { case (id, t) => (id, t, "en", "src1", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val planted = plantDir()
    // 1) whole corpus in ONE batch: verdicts == the gated batch query
    val one = java.nio.file.Files.createTempDirectory("graft_sl1_").toString
    val ms1 = MemoryStream[(Long, String)]
    val q1 = Streams.lineDedupSink(ms1.toDF().toDF("doc_id", "text"),
      s"$one/state", s"$one/ckpt").start()
    try { ms1.addData(rows); q1.processAllAvailable() } finally q1.stop()
    val got1 = Streams.lineDedupVerdicts(spark, s"$one/state").get
    val want = SparkEntry.queries("q_dedup_lines")(spark, planted)
      .select("doc_id", "n_lines", "n_dup_lines", "retained_frac")
    assert(got1.exceptAll(want).count() == 0 && want.exceptAll(got1).count() == 0,
      "co-arriving duplicates must reproduce the batch readout exactly")
    // 2) split delivery: doc 1 (batch 0) is judged before doc 2 exists —
    // provisional-clean; doc 2 (batch 1) sees the stored line and flags
    val two = java.nio.file.Files.createTempDirectory("graft_sl2_").toString
    val ms2 = MemoryStream[(Long, String)]
    val q2 = Streams.lineDedupSink(ms2.toDF().toDF("doc_id", "text"),
      s"$two/state", s"$two/ckpt").start()
    try {
      ms2.addData(Seq(rows(0))); q2.processAllAvailable()
      ms2.addData(Seq(rows(1), rows(2))); q2.processAllAvailable()
    } finally q2.stop()
    val got2 = Streams.lineDedupVerdicts(spark, s"$two/state").get
      .select("doc_id", "n_dup_lines").as[(Long, Long)].collect().toMap
    assert(got2(1L) == 0L, "the FIRST copy is provisional-clean at ingest")
    assert(got2(2L) == 1L, "the second copy must flag against the store")
    assert(got2(3L) == 0L)
    // ingest-flagged is a SUBSET of batch-flagged (df only grows)
    val batchDup = want.select("doc_id", "n_dup_lines").as[(Long, Long)]
      .collect().toMap
    got2.foreach { case (id, n) =>
      assert(n <= batchDup(id), s"ingest flagged more than batch for doc $id")
    }
    // 3) replay (at-least-once): both an OLD batch and the LAST batch
    // must leave every verdict partition unchanged
    def allVerdicts() = Streams.lineDedupVerdicts(spark, s"$two/state").get
      .collect().toSet
    val before = allVerdicts()
    Seq(0L -> Seq(rows(0)), 1L -> Seq(rows(1), rows(2))).foreach {
      case (id, chunk) =>
        Streams.applyLineDedupBatch(
          chunk.toDF("doc_id", "text"), id, s"$two/state", "doc_id", "text")
        assert(allVerdicts() == before, s"replaying batch $id mutated verdicts")
    }
  }

  test("stream_domain_stats: folded partials equal batch #135; replay fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sdom_").toString
    // sfTiny has no exact dups, so plant a dup PAIR that will arrive in
    // DIFFERENT batches — the cross-batch recovery this sink exists for
    val dupText = "planted duplicate document body for the domain fold"
    val planted = Seq((1000001L, dupText, "src1"), (1000002L, dupText, "src2"))
    val real = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toIndexedSeq
    val combinedDir = java.nio.file.Files.createTempDirectory("graft_sdomc_").toString
    (real ++ planted)
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$combinedDir/documents.parquet")
    val ms = MemoryStream[(Long, String, String)]
    val q = Streams.domainStatsSink(
      ms.toDF().toDF("doc_id", "text", "source"),
      graft.operators.Corpus.DomainBlocklist,
      s"$base/state", s"$base/ckpt").start()
    val split = real.grouped((real.size + 1) / 2).toSeq
    val chunks = Seq(split.head :+ planted.head, split.last :+ planted.last)
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.domainStatsState(spark, s"$base/state").get
    val want = SparkEntry.queries("q_domain_stats")(spark, combinedDir)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "folded per-batch partials != the one-shot domain dashboard")
    // the dup fold is non-vacuous AND allocated to the non-canonical
    // domain: the planted copy in src2 counts, the src1 original doesn't
    assert(want.agg(sum("dup_docs")).head().getLong(0) > 0)
    assert(got.where(col("domain") === "src2" && col("dup_docs") >= 1L)
      .count() == 1, "cross-batch dup must count against the later domain")
    // #149: the cross-source overlap MATRIX folds from the same fps
    // store — equal to the one-shot matrix over the delivered corpus
    // (same blocklist applied on the batch side), with the planted
    // cross-batch twin pair landing in both off-diagonal cells
    val gotMatrix = Streams.sourceOverlapState(spark, s"$base/state").get
    val keptDocs = Tables.documents(spark, combinedDir)
      .where(!col("source").isin(graft.operators.Corpus.DomainBlocklist: _*))
    val wantMatrix = graft.api.Graft.sourceOverlap(keptDocs, "text", "source")
    assert(gotMatrix.exceptAll(wantMatrix).count() == 0 &&
      wantMatrix.exceptAll(gotMatrix).count() == 0,
      "folded fps store != the one-shot source-overlap matrix")
    assert(gotMatrix.where(col("source_a") === "src1" &&
      col("source_b") === "src2" && col("n_docs") >= 1L).count() == 1,
      "the planted cross-batch twin must appear in the (src1, src2) cell")
    // replay: old batch and last batch both leave the dashboard unchanged
    val before = got.collect().toSet
    val beforeMatrix = gotMatrix.collect().toSet
    Seq(0 -> chunks.head, (chunks.size - 1) -> chunks.last).foreach {
      case (id, chunk) =>
        Streams.applyDomainStatsBatch(
          chunk.toDF("doc_id", "text", "source"), id.toLong,
          graft.operators.Corpus.DomainBlocklist, s"$base/state",
          "doc_id", "text", "source", graft.operators.Corpus.DomainQualityTau)
        val after = Streams.domainStatsState(spark, s"$base/state").get
          .collect().toSet
        assert(after == before, s"replaying batch $id mutated the dashboard")
        assert(Streams.sourceOverlapState(spark, s"$base/state").get
          .collect().toSet == beforeMatrix,
          s"replaying batch $id mutated the overlap matrix")
    }
  }

  test("stream_chunk_dedup: one survivor per passage fingerprint, horizon-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
      .sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val q = Streams.dedupChunks(stream, 64, 48)
      .writeStream.format("memory").queryName("chunk_dedup_twin")
      .outputMode("append").start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("chunk_dedup_twin").localCheckpoint(true)
    // survivors carry the full chunk payload (what an index writer
    // consumes), plus the fingerprint
    assert(Set("doc_id", "chunk_id", "chunk_text", "fp")
      .subsetOf(got.columns.toSet))
    // survivor IDENTITY equals the batch keeper set (r14: the keyed
    // state picks the lowest (doc_id, chunk_id) within each
    // micro-batch — the batch #165 election rule — so with in-order
    // arrival stream == batch exactly, not just in cardinality)
    val batchChunks = graft.api.Graft.chunkPassages(
      Tables.documents(spark, sfTiny), "doc_id", "text", 64, 48)
    val batchDropped = graft.api.Graft.chunkDedup(
      Tables.documents(spark, sfTiny), "doc_id", "text", 64, 48)
    val streamIds = got.select("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchKeepers = batchChunks.select("doc_id", "chunk_id")
      .exceptAll(batchDropped.select("doc_id", "chunk_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamIds == batchKeepers,
      s"stream survivors != batch keepers: " +
        s"only-stream=${(streamIds -- batchKeepers).take(5)} " +
        s"only-batch=${(batchKeepers -- streamIds).take(5)}")
    assert(got.select("fp").distinct().count() == got.count(),
      "two survivors shared a fingerprint inside the horizon")
  }

  test("chunkPassages runs UNCHANGED on a stream: ingest chunking equals batch") {
    // the #162 scaladoc claims "stateless ⟹ trivially streamable" —
    // prove it by running the SAME facade call on a MemoryStream in
    // append mode (no state, no watermark) across 3 arbitrary batch
    // splits, including the corpus' dirty rows
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val ms = MemoryStream[(Long, String)]
    val chunked = graft.api.Graft.chunkPassages(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 64, 48)
    val q = chunked.writeStream.format("memory")
      .queryName("chunk_stream_twin").outputMode("append").start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("chunk_stream_twin")
    val want = graft.api.Graft.chunkPassages(
      Tables.documents(spark, sfTiny), "doc_id", "text", 64, 48)
      .select(got.columns.map(col): _*)
    assert(got.count() > 0, "tiny corpus must chunk")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed chunking differs from the batch run")
  }
}
