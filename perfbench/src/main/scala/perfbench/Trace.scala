package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into the engine. `kind` names the
  * layer and operation (`commitlog.merge`, `query.q01_...`); wall-clock
  * milliseconds place Spark's own event timestamps inside the span. The
  * Spark jobs attributed to it are its child spans. */
final case class Span(id: Int, kind: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into the engine. Untraced, it only keeps
  * each call's wall time. Traced, every call also runs under its own
  * Spark job group (`pb-<span id>`) so the listeners in [[Events]] can
  * attribute jobs to it. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  /** Per-run counters (rows inserted, bytes added, ...). */
  val counters = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  def op[T](kind: String)(body: => T): T = {
    val id = spans.size
    if (traced) spark.sparkContext.setJobGroup(s"pb-$id", kind, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      if (traced) spark.sparkContext.clearJobGroup()
      spans += Span(id, kind, t0, t1, ms0, ms1)
    }
  }

  /** Run one closed-loop operation; a thrown error counts as failed. */
  def attempt(what: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
  }

  def add(counter: String, v: Double): Unit =
    counters(counter) = counters.getOrElse(counter, 0.0) + v

  def seconds(kinds: String => Boolean): Seq[Double] =
    spans.filter(s => kinds(s.kind)).map(_.seconds).toSeq
}

/** Listeners the traced run registers: Spark jobs (with their job group
  * and task metrics), Catalyst phase intervals from each action's
  * `QueryExecution.tracker`, and streaming trigger progress. Everything
  * is kept in memory and read after a listener-bus drain. */
final class Events extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
  }
  final case class Phase(name: String, startMs: Long, endMs: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val phases = mutable.ArrayBuffer[Phase]()
  /** One time per action: the end of its last Catalyst phase, taken from
    * the action itself rather than from when the listener bus delivered
    * it. */
  val actions = mutable.ArrayBuffer[Long]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Phase(name, p.startTimeMs, p.endTimeMs)
    }
    qe.tracker.phases.values.map(_.endTimeMs).maxOption.foreach(actions += _)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Events.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Deliver every queued event before the spans are attributed. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 60000)
}

/** Splits each span into Spark-job time, Catalyst time and
  * driver self time (the span minus the union of both), and rolls the
  * result up into the per-layer metrics. */
final class Attribution(rec: Recorder, val ev: Events, cores: Int) {
  private val top = rec.spans.toSeq

  /** Jobs of a span: those in its job group, plus those the engine ran
    * under its own group (orchestrator jobs, stream batches) that were
    * submitted while the span was open — the loop has one client. */
  val jobsOf: Map[Int, Seq[ev.Job]] = {
    val byGroup = ev.jobs.values.toSeq.groupBy(_.group)
    top.map { s =>
      val own = byGroup.getOrElse(s"pb-${s.id}", Nil)
      val inner = ev.jobs.values.filter(j => !j.group.startsWith("pb-") &&
        j.startMs >= s.startMs && j.startMs <= s.endMs)
      s.id -> (own ++ inner).distinct
    }.toMap
  }

  private def within(s: Span, t: Long) = t >= s.startMs && t <= s.endMs

  private def phasesOf(s: Span) = ev.phases.filter(p => within(s, p.startMs)).toSeq

  /** Length of the union of intervals, clipped to the span. */
  private def cover(s: Span, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  final case class Split(span: Span, jobMs: Long, catalystMs: Long, selfMs: Long,
      jobs: Int) {
    def wallMs: Long = span.endMs - span.startMs
  }

  val splits: Seq[Split] = top.map { s =>
    val js = jobsOf(s.id)
    val jobIv = js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
    val catIv = phasesOf(s).map(p => (p.startMs, p.endMs))
    val all = cover(s, jobIv ++ catIv)
    Split(s, cover(s, jobIv), cover(s, catIv),
      math.max(0L, (s.endMs - s.startMs) - all), js.size)
  }

  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  /** Median split figures over the spans `kinds` selects, as
    * `<prefix>.job_wall_s` etc. */
  def slot(prefix: String, kinds: String => Boolean): Map[String, Double] = {
    val xs = splits.filter(x => kinds(x.span.kind))
    Map(
      s"$prefix.job_wall_s" -> median(xs.map(_.jobMs / 1e3)),
      s"$prefix.catalyst_ms" -> median(xs.map(_.catalystMs.toDouble)),
      s"$prefix.self_s" -> median(xs.map(_.selfMs / 1e3)),
      s"$prefix.self_share" -> ratio(xs.map(_.selfMs).sum, xs.map(_.wallMs).sum),
      s"$prefix.jobs" -> median(xs.map(_.jobs.toDouble)))
  }

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  /** Per-operation means over the top-level spans `kinds` selects. */
  def layers(kinds: String => Boolean): Map[String, Double] = {
    val sel = splits.filter(x => kinds(x.span.kind))
    val spans = sel.map(_.span)
    val n = math.max(spans.size, 1).toDouble
    val js = spans.flatMap(s => jobsOf(s.id))
    val phase = ev.phases.filter(p => spans.exists(s => within(s, p.startMs)))
    def phaseMs(name: String) =
      phase.filter(_.name == name).map(p => (p.endMs - p.startMs).toDouble).sum / n
    val jobWall = sel.map(_.jobMs).sum / 1e3
    val taskS = js.map(_.taskMs).sum / 1e3
    val wall = sel.map(_.wallMs).sum.toDouble
    Map(
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.actions" -> ev.actions.count(t => spans.exists(s => within(s, t))) / n,
      "exec.jobs" -> js.size / n,
      "exec.stages" -> js.map(_.stages).sum / n,
      "exec.tasks" -> js.map(_.tasks).sum / n,
      "exec.job_wall_s" -> jobWall / n,
      "exec.task_s" -> taskS / n,
      "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3 / n,
      "exec.input_bytes" -> js.map(_.inputBytes).sum / n,
      "exec.shuffle_read_bytes" -> js.map(_.shuffleRead).sum / n,
      "exec.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum / n,
      "exec.spill_bytes" -> js.map(_.spill).sum / n,
      "exec.output_bytes" -> js.map(_.outputBytes).sum / n,
      "exec.busy_ratio" -> ratio(taskS, jobWall * cores),
      "driver.self_s" -> sel.map(_.selfMs).sum / 1e3 / n,
      "trace.unattributed_share" -> ratio(sel.map(_.selfMs).sum, wall))
  }

  /** Per operation kind: count, median wall, median self, median jobs. */
  def byKind(): Map[String, Map[String, Double]] =
    splits.groupBy(_.span.kind).map { case (k, xs) =>
      k -> Map(
        "count" -> xs.size.toDouble,
        "s" -> median(xs.map(_.span.seconds)),
        "self_s" -> median(xs.map(_.selfMs / 1e3)),
        "self_share" -> ratio(xs.map(_.selfMs).sum, xs.map(_.wallMs).sum),
        "jobs" -> median(xs.map(_.jobs.toDouble)),
        "catalyst_ms" -> median(xs.map(_.catalystMs.toDouble)))
    }

  /** Streaming trigger phases as shares of trigger time, plus state. */
  def streaming(): Map[String, Double] = {
    val ps = ev.progress.map(_.progress).toSeq
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trig = ps.map(d(_, "triggerExecution")).sum
    def share(ks: String*) = ratio(ps.map(p => ks.map(d(p, _)).sum).sum, trig)
    val state = ps.flatMap(_.stateOperators.toSeq)
    val withRows = ps.filter(_.numInputRows > 0)
    Map(
      "streaming.triggers" -> withRows.size.toDouble,
      "streaming.add_batch_share" -> share("addBatch"),
      "streaming.query_planning_share" -> share("queryPlanning"),
      "streaming.wal_share" -> share("walCommit", "commitOffsets"),
      "streaming.source_share" -> share("latestOffset", "getBatch"),
      "streaming.state_commit_share" -> ratio(state.map(_.commitTimeMs).sum.toDouble, trig),
      "streaming.state_rows" -> (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble),
      "streaming.state_memory_bytes" ->
        (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max.toDouble))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 11) quantile(xs, 1.0)
    else quantile(xs, 1.0 - 10.0 / xs.size)
}
