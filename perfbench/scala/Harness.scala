package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.sources.JsonEventSource
import graft.streaming.{LogEvent, Streams}
import graft.sinks.Sinks

/** JVM side of the benchmark. Drives graft only through its public
  * entry points (`SparkEntry.queries`, `api.Graft`, the registered SQL
  * functions, `Tables`, `JsonEventSource`, `Streams`, `Sinks`) and times
  * the calls from outside. With `--trace 1` it also registers the three
  * listeners of [[Tracer]]; without it, none.
  *
  * Usage: Harness --mode setup|run --workload W --data DIR --work DIR
  *        --seed N --seconds S --trace 0|1 --launch-ns T [--probe-data DIR]
  * Writes `<work>/result.json` (run) or `<work>/setup.json` (setup).
  */
object Harness {
  val DwsOlap = Seq(
    "q_visitor_stats", "q_product_stats", "q_province_stats", "q_keyword_stats",
    "q_order_wide", "q_payment_wide", "q_user_jump", "q_unique_visitors_daily",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders")
  val CurationFits = Seq(
    "q_dup_cluster_histogram", "q_training_manifest", "q_classifier_holdout")

  /** Streaming: events per micro-batch, rounds per pass, and the fewest
    * steady passes a run makes. */
  val BatchEvents = 500
  val RoundsPerPass = 2
  val MinStreamPasses = 3
  /** Batch workloads: the fewest steady passes after the cold one. */
  val MinSteadyPasses = 5

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    Files.createDirectories(Paths.get(work))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ready = Instant.now()
    val setupS = (ready.getEpochSecond * 1000000000L + ready.getNano -
      o("launch-ns").toLong) / 1e9
    if (o("mode") == "setup") {
      writeJson(s"$work/setup.json", Map("setup_s" -> setupS))
      spark.stop()
      return
    }
    val tracer = if (o("trace") == "1") Some(Tracer.install(spark)) else None
    val run = new Run(spark, o("data"), work, o("seed").toLong,
      o("seconds").toDouble, tracer)
    val result = o("workload") match {
      case "dws_olap"      => run.batch(DwsOlap)
      case "curation_fits" => run.batch(CurationFits)
      case "stream_ingest" => run.stream()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = tracer.map(t => Probes.all(spark, o("probe-data"), t)).getOrElse(Map.empty) ++
      result("layers_local").asInstanceOf[Map[String, Any]]
    writeJson(s"$work/result.json",
      result - "layers_local" ++ Map("setup_s" -> setupS, "layers" -> layers))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes a result file (maps, sequences, strings, numbers) as JSON
    * with the Jackson that ships with Spark. */
  def writeJson(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    mapper.writeValue(Paths.get(path).toFile, v)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set (VmHWM) of this process in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

class Run(spark: SparkSession, data: String, work: String, seed: Long,
    seconds: Double, tracer: Option[Tracer]) {
  import Harness._

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Closed loop over whole passes: pass 0 is the cold pass, later ones
    * steady; each pass runs every query once in a seed-shuffled order.
    * Steady passes continue until they have taken `seconds` and at
    * least [[MinSteadyPasses]] are done. Afterwards, untimed,
    * every query's rows are written for the DuckDB check. */
  def batch(names: Seq[String]): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    val sc = spark.sparkContext
    case class Op(pass: Int, name: String, buildMs: Double, execMs: Double,
        startMs: Long, endMs: Long)
    val ops = mutable.ArrayBuffer.empty[Op]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    var pass = 0
    while (pass <= MinSteadyPasses || passWall.drop(1).sum < seconds) {
      val tag = if (pass == 0) "cold" else s"steady$pass"
      tracer.foreach(_.phase = tag)
      System.gc() // untimed: no pass inherits the previous one's garbage
      val p0 = System.nanoTime(); val c0 = cpuNs()
      rng.shuffle(names).foreach { name =>
        sc.setLocalProperty(Tracer.PhaseKey, s"$tag/$name")
        attempted += 1
        val s = System.currentTimeMillis()
        val b0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, data)
          val b1 = System.nanoTime()
          noop(df)
          val e1 = System.nanoTime()
          ops += Op(pass, name, (b1 - b0) / 1e6, (e1 - b1) / 1e6, s,
            System.currentTimeMillis())
        } catch {
          case e: Throwable =>
            failed += 1
            errors += s"$name: ${e.toString.take(300)}"
        }
      }
      passWall += (System.nanoTime() - p0) / 1e9
      passCpu += (cpuNs() - c0) / 1e9
      tracer.foreach(_.drain())
      pass += 1
    }
    sc.setLocalProperty(Tracer.PhaseKey, null)
    val rss = peakRssMb()
    tracer.foreach(_.phase = "verify")
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, data).coalesce(1).write
        .mode("overwrite").parquet(s"$work/out/$name")
      catch { case e: Throwable => errors += s"$name (output): ${e.toString.take(300)}" }
    }
    writeJson(s"$work/out/oracle_sql.json",
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

    val steady = 1 until pass
    val steadyLat = ops.filter(_.pass > 0).map(o => o.buildMs + o.execMs).toSeq
    def passSum(p: Int, f: Op => Double) = ops.filter(_.pass == p).map(f).sum
    val opLayers = Map(
      "operators.build_cold_ms" -> passSum(0, _.buildMs),
      "operators.build_steady_ms" -> median(steady.map(passSum(_, _.buildMs))),
      "operators.exec_cold_ms" -> passSum(0, _.execMs),
      "operators.exec_steady_ms" -> median(steady.map(passSum(_, _.execMs))))
    val sparkLayers = tracer.map(_.batchLayers(
      ops.map(o => (if (o.pass == 0) "cold" else s"steady${o.pass}", o.startMs, o.endMs)).toSeq,
      steady.map(p => s"steady$p"))).getOrElse(Map.empty)
    Map(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "passes" -> pass, "pass_s" -> passWall.toSeq,
      "e2e" -> Map(
        "cold_pass_s" -> passWall.head,
        "steady_pass_s" -> median(passWall.drop(1).toSeq),
        "cpu_s" -> passCpu.sum,
        "batch_p50_ms" -> median(steadyLat),
        "batch_p90_ms" -> pct(steadyLat, 0.9),
        "peak_rss_mb" -> rss),
      "per_query_steady_ms" -> names.map(n => n -> median(
        ops.filter(o => o.name == n && o.pass > 0).map(o => o.buildMs + o.execMs).toSeq)).toMap,
      "per_query_cold_ms" -> ops.filter(_.pass == 0)
        .map(o => o.name -> (o.buildMs + o.execMs)).toMap,
      "jobs_by_query" -> tracer.map(_.jobsByQuery()).getOrElse(Map.empty),
      "layers_local" -> (if (tracer.isDefined) opLayers ++ sparkLayers else Map.empty))
  }

  /** The six streaming twins, each on its own MemoryStream of raw JSON
    * lines parsed by `JsonEventSource.parse`. One round hands the next
    * [[BatchEvents]] lines (in event-time order) to every source and
    * waits until every query has processed them. */
  def stream(): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = Files.readAllLines(Paths.get(s"$data/events.jsonl")).asScala.toVector
    def source(): (MemoryStream[String], DataFrame) = {
      val ms = MemoryStream[String]
      val parsed = JsonEventSource.parse(ms.toDF().withColumnRenamed("value", "line"))
        .withColumn("ts", timestamp_micros(col("ts_us")))
      (ms, parsed)
    }
    def events(df: DataFrame) = df
      .select("event_id", "user_id", "event_type", "ts", "ts_us", "value", "props")
      .as[LogEvent]
    def memory(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$work/ckpt/$name").start()

    val (msRoute, route) = source()
    val (msUv, uv) = source()
    val (msJump, jump) = source()
    val (msStats, stats) = source()
    val (msViews, views) = source()
    val (msBuys, buys) = source()
    val (msDim, dim) = source()
    val sources = Seq(msRoute, msUv, msJump, msStats, msViews, msBuys, msDim)
    def startQueries() = Seq(
      Streams.writeRouted(Streams.routeLogs(route), s"$work/stream/routed",
        s"$work/ckpt/route").queryName("route").start(),
      memory(Streams.uniqueVisits(events(uv)).toDF(), "unique_visits"),
      memory(Streams.userJumps(events(jump)).toDF(), "user_jumps"),
      memory(Streams.visitorStats(stats), "visitor_stats"),
      memory(Streams.intervalJoin(views.where(col("event_type") === "view"),
        buys.where(col("event_type") === "purchase")), "interval_join"),
      Sinks.dimUpsertSink(dim.select(col("user_id").as("dim_key"),
          col("ts_us").as("version"), col("event_id").as("payload")),
        s"$work/stream/dim", s"$work/ckpt/dim_upsert", Seq("dim_key"), "version")
        .queryName("dim_upsert").start())

    // the seed shifts where the batch boundaries fall in the log
    val first = (seed % BatchEvents).toInt
    var next = first
    var queries = Seq.empty[StreamingQuery]
    def round(): Unit = {
      val batch = lines.slice(next, next + BatchEvents)
      require(batch.size == BatchEvents, s"event log exhausted at line $next")
      next += BatchEvents
      sources.foreach(_.addData(batch))
      queries.foreach(_.processAllAvailable())
    }
    val lat = mutable.ArrayBuffer.empty[Double]
    val passWall = mutable.ArrayBuffer.empty[Double]
    def pass(): Unit = {
      System.gc()
      val p0 = System.nanoTime()
      (1 to RoundsPerPass).foreach { _ =>
        val r0 = System.nanoTime()
        round()
        lat += (System.nanoTime() - r0) / 1e6
      }
      passWall += (System.nanoTime() - p0) / 1e9
    }
    val cold0 = System.nanoTime(); val c0 = cpuNs()
    queries = startQueries()
    pass()
    val coldS = (System.nanoTime() - cold0) / 1e9
    lat.clear(); passWall.clear()
    tracer.foreach(_.phase = "timed")
    val firstTimed = next
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    while (passWall.size < MinStreamPasses || (System.nanoTime() - t0) / 1e9 < seconds) pass()
    val wall = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    val cpu = (cpuNs() - c0) / 1e9
    val rss = peakRssMb()
    tracer.foreach { t => t.drain(); t.phase = "verify" }
    val progress = queries.map { q =>
      val ps = q.recentProgress
      q.name -> Map(
        "late_rows" -> ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
        "watermark_ms" -> ps.flatMap(p => Option(p.eventTime.get("watermark")))
          .map(w => Instant.parse(w).toEpochMilli).maxOption.getOrElse(0L))
    }.toMap
    queries.foreach(_.stop())
    Seq("unique_visits", "user_jumps", "visitor_stats", "interval_join").foreach { n =>
      spark.table(n).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$n")
    }
    val rounds = lat.size
    Map(
      "attempted" -> (rounds + RoundsPerPass) * queries.size,
      "failed" -> 0, "errors" -> Seq.empty[String],
      "events_from" -> first, "events_to" -> next, "rounds" -> rounds,
      "pass_s" -> (coldS +: passWall.toSeq),
      "queries" -> progress,
      "e2e" -> Map(
        "cold_pass_s" -> coldS,
        "steady_pass_s" -> median(passWall.toSeq),
        "rows_per_s" -> (next - firstTimed) / wall,
        "batch_p50_ms" -> median(lat.toSeq),
        "batch_p90_ms" -> pct(lat.toSeq, 0.9),
        "cpu_s" -> cpu,
        "peak_rss_mb" -> rss),
      "layers_local" -> tracer.map(_.streamLayers(t0Ms, t1Ms, rounds)).getOrElse(Map.empty))
  }
}
