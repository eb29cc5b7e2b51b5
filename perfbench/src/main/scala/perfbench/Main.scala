package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` stages the seeded inputs, writes a
  * config JSON and starts this with `<config> <result>`; it sets up the
  * workload several times, runs its closed loop for the configured
  * seconds, writes what the oracle needs to check, and reports every
  * timing in the result JSON. The engine is only called through its
  * public functions.
  */
object Main {
  val mapper = new ObjectMapper()

  /** Everything one run knows: its config and the session. */
  final class Ctx(val cfg: JsonNode, val spark: SparkSession, val rec: Recorder) {
    val data: String = cfg.get("data").asText
    val work: String = cfg.get("work").asText
    val out: String = cfg.get("out").asText
    val cores: Int = cfg.get("cores").asInt
    /** Outputs the oracle checks after the JVM exits. */
    val outputs = new java.util.LinkedHashMap[String, Object]()
    def list(key: String): Seq[JsonNode] = cfg.get(key).elements().asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val traced = cfg.get("trace").asBoolean
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = graft.EngineSession.create("perfbench", cfg.get("cores").asText)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val events = if (traced) Some(new Events) else None
    events.foreach(_.register(spark))
    val ctx = new Ctx(cfg, spark, new Recorder(spark, traced))
    val w = Workload(cfg.get("workload").asText, ctx)

    val reps = (1 to cfg.get("setup_reps").asInt).map { r =>
      val s0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - s0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val window = (cfg.get("seconds").asDouble * 1e9).toLong
    val m0 = System.nanoTime()
    var steps = 0
    while (System.nanoTime() - m0 < window) { w.step(steps); steps += 1 }
    val measuredS = (System.nanoTime() - m0) / 1e9
    w.finish()
    val peakRssMb = vmHwmKb() / 1024.0
    if (traced) w.probe()

    val rec = ctx.rec
    val op = rec.seconds(w.primary)
    val aux = rec.seconds(w.aux)
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(reps)),
      "op_p50_s" -> Stats.median(op),
      "aux_p50_s" -> Stats.median(aux))
    val report = new java.util.LinkedHashMap[String, Object]()
    report.put("session_s", Double.box(sessionS))
    report.put("setup_reps_s", reps.map(Double.box).asJava)
    report.put("prepare_s", Double.box(prepareS))
    report.put("measured_s", Double.box(measuredS))
    report.put("peak_rss_mb", Double.box(peakRssMb))
    report.put("steps", Int.box(steps))
    report.put("op_samples", Int.box(op.size))
    report.put("aux_samples", Int.box(aux.size))
    report.put("op_tail_s", Double.box(Stats.tail(op)))
    report.put("op_s", op.map(Double.box).asJava)
    report.put("aux_s", aux.map(Double.box).asJava)
    report.put("counters", rec.counters.map { case (k, v) => k -> Double.box(v) }.toMap.asJava)
    val layers = events.map { ev =>
      ev.drain(spark)
      val at = new Attribution(rec, ev, ctx.cores)
      report.put("by_kind", at.byKind().map { case (k, m) =>
        k -> m.map { case (a, b) => a -> Double.box(b) }.asJava }.asJava)
      // [id, name, parent, start ms, end ms] from the run start: each operation,
      // then each Spark job under the operation it was attributed to
      def row(id: String, name: String, parent: String, a: Long, b: Long) =
        Seq[Object](id, name, parent, Long.box(a - startMs), Long.box(b - startMs)).asJava
      report.put("spans", (at.splits.map(x => row(s"op-${x.span.id}", x.span.kind, "",
        x.span.startMs, x.span.endMs)) ++ at.splits.flatMap(x =>
        at.jobsOf(x.span.id).map(j => row(s"job-${j.id}", "spark.job", s"op-${x.span.id}",
          j.startMs, j.endMs)))).asJava)
      perLayer(w, rec, at, op, aux) + ("jvm.peak_rss_mb" -> peakRssMb)
    }.getOrElse(Map.empty)

    val result = new java.util.LinkedHashMap[String, Object]()
    result.put("end_to_end", e2e.map { case (k, v) => k -> Double.box(v) }.asJava)
    result.put("per_layer", layers.map { case (k, v) => k -> Double.box(v) }.asJava)
    result.put("attempted", Long.box(rec.attempted))
    result.put("failed", Long.box(rec.failed))
    result.put("errors", rec.errors.asJava)
    result.put("outputs", ctx.outputs)
    result.put("report", report)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** The per-layer set: every workload reports every metric, so layers a
    * workload bypasses read as zero counts and zero shares. */
  private def perLayer(w: Workload, rec: Recorder, at: Attribution,
      op: Seq[Double], aux: Seq[Double]): Map[String, Double] = {
    val kinds = at.byKind()
    def kind(k: String, m: String) = kinds.get(k).flatMap(_.get(m)).getOrElse(0.0)
    val commitlog = Workload.logOps.flatMap { o =>
      val k = s"commitlog.$o"
      Seq(s"$k.count" -> kind(k, "count"), s"$k.jobs" -> kind(k, "jobs"),
        s"$k.self_share" -> kind(k, "self_share"))
    }
    val makespan = rec.seconds(_ == "pipelines.runDag").sum
    val pipelines = Workload.pipelineJobs.map { j =>
      s"pipelines.job.$j.share" -> ratio(rec.counters.getOrElse(s"job.$j.s", 0.0), makespan)
    } ++ Seq(
      "pipelines.orchestrator.self_share" ->
        ratio(makespan - Workload.pipelineJobs.map(j =>
          rec.counters.getOrElse(s"job.$j.s", 0.0)).sum, makespan),
      "pipelines.reload.rows_inserted" -> rec.counters.getOrElse("reload.rows_inserted", 0.0))
    val probed = Stats.median(Workload.probeQueries.map(q => kind(s"query.$q", "s")))
    val queries = Workload.probeQueries.map { q =>
      s"query.$q.p50_ratio" -> ratio(kind(s"query.$q", "s"), probed)
    }
    val commits = rec.counters.getOrElse("commits", 0.0)
    val streamS = rec.seconds(_ == "streaming.run").sum
    Map(
      "op.p50_s" -> Stats.median(op),
      "op.tail_s" -> Stats.tail(op),
      "op.samples" -> op.size.toDouble,
      "aux.p50_s" -> Stats.median(aux),
      "aux.samples" -> aux.size.toDouble,
      "ops_failed_ratio" -> ratio(rec.failed.toDouble, rec.attempted.toDouble),
      "commitlog.bytes_added_per_commit" ->
        ratio(rec.counters.getOrElse("bytes_added", 0.0), commits),
      "commitlog.files_added_per_commit" ->
        ratio(rec.counters.getOrElse("files_added", 0.0), commits),
      "commitlog.log_bytes" -> rec.counters.getOrElse("log_bytes", 0.0),
      "commitlog.space_amp" -> rec.counters.getOrElse("space_amp", 0.0),
      "streaming.rows_per_s" -> ratio(rec.counters.getOrElse("stream_rows", 0.0), streamS)) ++
      at.slot("op", w.primary) ++ at.slot("aux", w.aux) ++
      at.layers(k => w.primary(k) || w.aux(k)) ++
      at.streaming() ++ commitlog ++ pipelines ++ queries
  }

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  private def vmHwmKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}
