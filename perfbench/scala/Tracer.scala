package graftbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's three listeners, registered from benchmark code only:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (the planning tracker's phases) and a StreamingQueryListener (each
  * trigger's progress report). Events are kept in memory and reduced to
  * the per-layer record when the run ends.
  *
  * Batch work is attributed by the [[Tracer.PhaseKey]] job property the
  * harness thread sets before each query; streaming jobs run on the
  * queries' own threads, so they are attributed by time instead.
  */
class Tracer extends SparkListener {
  /** Read by the QueryExecutionListener, which sees no job properties;
    * the harness drains the bus at pass boundaries before changing it. */
  @volatile var phase = "warmup"
  @volatile private var lastEventNs = System.nanoTime()

  case class JobRec(phase: String, query: String, startMs: Long, var endMs: Long)
  case class TaskRec(phase: String, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inRows: Long, inBytes: Long, peakMem: Long, outBytes: Long, outRecs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[(String, Long, Int)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val planning = mutable.ArrayBuffer.empty[(String, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the harness tags batch jobs "<pass>/<query>"
    val tag = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.PhaseKey)))
      .getOrElse("none")
    val p = tag.takeWhile(_ != '/')
    jobs(e.jobId) = JobRec(p, tag.drop(p.length + 1), e.time, -1L)
    e.stageIds.foreach(stagePhase(_) = p)
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += ((stagePhase.getOrElse(i.stageId, "none"),
      i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(stagePhase.getOrElse(e.stageId, "none"),
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, m.peakExecutionMemory,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    touch()
  }

  private object Qel extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planning += ((phase, qe.tracker.phases.values.map(_.durationMs).sum))
      touch()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private object Sql extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress; touch() }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for 200 ms (at most 5 s), so events land in the phase they belong to. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def busy = synchronized(jobs.values.exists(_.endMs < 0)) ||
      System.nanoTime() - lastEventNs < 200000000L
    while (busy && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Layer record of a batch workload: the cold pass's job count, and the
    * median over steady passes of every other figure. `ops` holds each
    * query execution's (phase, start ms, end ms); `no_job_ms` is the part
    * of those windows during which no job ran. */
  def batchLayers(ops: Seq[(String, Long, Long)], steady: Seq[String]): Map[String, Double] =
    synchronized {
      val js = jobs.values.toSeq
      def noJob(p: String): Double =
        ops.filter(_._1 == p).map { case (_, s, e) => idleMs(s, e) }.sum
      def per(p: String): Map[String, Double] = {
        val ts = tasks.filter(_.phase == p).toSeq
        val st = stages.filter(_._1 == p)
        taskFigures(ts) ++ Map(
          "spark.jobs" -> js.count(_.phase == p).toDouble,
          "spark.stages" -> st.size.toDouble,
          "spark.tasks_per_stage" -> (if (st.isEmpty) 0.0 else ts.size.toDouble / st.size),
          "spark.planning_ms" -> planning.filter(_._1 == p).map(_._2).sum.toDouble,
          "spark.no_job_ms" -> noJob(p))
      }
      val perSteady = steady.map(per)
      val keys = perSteady.headOption.map(_.keySet).getOrElse(Set.empty)
      keys.map(k => (if (k == "spark.jobs") "spark.jobs_steady" else k) ->
        Harness.median(perSteady.map(_(k)))).toMap +
        ("spark.jobs_cold" -> js.count(_.phase == "cold").toDouble)
    }

  /** Milliseconds of [s, e] during which no job was running. */
  private def idleMs(s: Long, e: Long): Double = {
    val spans = jobs.values.filter(j => j.endMs >= s && j.startMs <= e)
      .map(j => (math.max(j.startMs, s), math.min(j.endMs, e))).toSeq.sortBy(_._1)
    var covered = 0L; var upTo = s
    spans.foreach { case (a, b) =>
      if (b > upTo) { covered += b - math.max(a, upTo); upTo = b }
    }
    (e - s - covered).toDouble
  }

  private def taskFigures(ts: Seq[TaskRec]): Map[String, Double] = Map(
    "spark.tasks" -> ts.size.toDouble,
    "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
    "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
    "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
    "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
    "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
    "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
    "spark.input_rows" -> ts.map(_.inRows).sum.toDouble,
    "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
    "spark.peak_exec_memory_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble))

  /** Layer record of the streaming workload over the timed rounds (from
    * `t0Ms` on): per-round means of the progress durations, jobs, task figures
    * and job-free wall time; the state size at the last trigger; watermark drops over the
    * whole run. */
  def streamLayers(t0Ms: Long, t1Ms: Long, rounds: Int): Map[String, Double] = synchronized {
    val twins = Seq("route", "unique_visits", "user_jumps", "visitor_stats",
      "interval_join", "dim_upsert")
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val timedProgress = progress.filter(p => Instant.parse(p.timestamp).toEpochMilli >= t0Ms)
    val perTwin = twins.flatMap { t =>
      val all = progress.filter(_.name == t)
      val ps = timedProgress.filter(_.name == t)
      def perRound(f: StreamingQueryProgress => Double) = ps.map(f).sum / rounds
      Seq(
        s"streaming.$t.trigger_ms" -> perRound(ms(_, "triggerExecution")),
        s"streaming.$t.add_batch_ms" -> perRound(ms(_, "addBatch")),
        s"streaming.$t.planning_ms" -> perRound(ms(_, "queryPlanning")),
        s"streaming.$t.commit_ms" -> perRound(p => ms(p, "walCommit") + ms(p, "commitOffsets")),
        s"streaming.$t.triggers" -> ps.size.toDouble / rounds,
        s"streaming.$t.state_rows" ->
          ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        s"streaming.$t.state_commit_ms" -> perRound(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        s"streaming.$t.late_rows" ->
          all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
    }.toMap
    def addBatchP50(name: String) = Harness.median(timedProgress
      .filter(p => p.name == name && p.numInputRows > 0).map(ms(_, "addBatch")).toSeq)
    val ts = tasks.filter(_.finishMs >= t0Ms).toSeq
    val js = jobs.values.filter(_.startMs >= t0Ms)
    val st = stages.filter(_._2 >= t0Ms)
    val sparkFigures = taskFigures(ts).map { case (k, v) =>
      k -> (if (k == "spark.peak_exec_memory_bytes") v else v / rounds)
    } ++ Map(
      "spark.jobs_steady" -> js.size.toDouble / rounds,
      "spark.jobs_cold" -> jobs.values.count(_.startMs < t0Ms).toDouble,
      "spark.stages" -> st.size.toDouble / rounds,
      "spark.tasks_per_stage" -> (if (st.isEmpty) 0.0 else ts.size.toDouble / st.size),
      "spark.planning_ms" -> planning.filter(_._1 == "timed").map(_._2).sum.toDouble / rounds,
      "spark.no_job_ms" -> idleMs(t0Ms, t1Ms) / rounds)
    perTwin ++ sparkFigures ++ Map(
      "sinks.routed_add_batch_ms" -> addBatchP50("route"),
      "sinks.upsert_add_batch_ms" -> addBatchP50("dim_upsert"),
      "sinks.files_written" -> ts.count(_.outRecs > 0).toDouble / rounds,
      "sinks.bytes_written" -> ts.map(_.outBytes).sum.toDouble / rounds)
  }

  /** Per batch query: jobs in the cold pass and the median over steady
    * passes. */
  def jobsByQuery(): Map[String, Map[String, Double]] = synchronized {
    jobs.values.filter(_.query.nonEmpty).groupBy(_.query).map { case (q, js) =>
      val steady = js.filter(_.phase.startsWith("steady")).groupBy(_.phase).values.map(_.size.toDouble)
      q -> Map("cold" -> js.count(_.phase == "cold").toDouble,
        "steady" -> Harness.median(steady.toSeq))
    }
  }

  /** Jobs started under the given [[Tracer.PhaseKey]] value. */
  def jobCount(p: String): Int = synchronized(jobs.values.count(_.phase == p))
}

object Tracer {
  val PhaseKey = "graftbench.phase"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.Qel)
    spark.streams.addListener(t.Sql)
    t
  }
}
