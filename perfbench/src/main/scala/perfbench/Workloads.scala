package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.pipelines.{Jobs, Orchestrator}
import graft.sources.CommitLog
import graft.streaming.Streaming

/** One workload: a set-up repeated `setup_reps` times (its median is
  * part of `setup_s`), one closed-loop step repeated until the window
  * closes, and a `finish` that leaves the oracle its inputs. `primary`
  * and `aux` pick the spans behind `op_p50_s` and `aux_p50_s`. */
abstract class Workload(ctx: Main.Ctx) {
  protected val spark: org.apache.spark.sql.SparkSession = ctx.spark
  protected val rec: Recorder = ctx.rec
  def primary: String => Boolean
  def aux: String => Boolean
  def setup(rep: Int): Unit
  def prepare(): Unit = ()
  def step(i: Int): Unit
  def finish(): Unit = ()
  /** Traced runs only, after `finish`: profile layers the loop bypasses. */
  def probe(): Unit = ()

  protected def path(parts: String*): String = (ctx.work +: parts).mkString("/")

  protected def output(key: String, v: Any): Unit = ctx.outputs.put(key, v.asInstanceOf[Object])
}

object Workload {
  val logOps = Seq("merge", "update", "delete", "read_point", "read_asof", "changefeed",
    "history", "snapshot")
  val pipelineJobs = Seq("alimentacao_view_manifestos", "alimentacao_view_movimento",
    "alimentacao_view_manifestomovimento", "alimentacao_view_adicionais",
    "alimentacao_parcela_ciot")
  /** Short named queries the nightly probe profiles. */
  val probeQueries = Seq("q01_agg_pricing_summary", "q04_window_rank_lag_frames",
    "q07_set_ops", "q08_semi_anti_join", "q09_topk_per_group", "q25_view_manifestos",
    "q28_view_adicionais", "q65_shipping_priority", "q91_above_nation_avg",
    "q125_hll_sketch_merge")

  def apply(name: String, ctx: Main.Ctx): Workload = name match {
    case "nightly_load" => new NightlyLoad(ctx)
    case "cdc_upsert" => new CdcUpsert(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  def bytes(p: String): Long = {
    val root = Paths.get(p.stripPrefix("file:"))
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(f => Files.isRegularFile(f))
      .mapToLong(f => Files.size(f)).sum()
  }

  def files(p: String): Long = {
    val root = Paths.get(p.stripPrefix("file:"))
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(f => f.toString.endsWith(".parquet")).count()
  }

  def map(kv: (String, Any)*): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[Object]) }
    m
  }
}

import Workload.{map, rmrf}

/** The reference's nightly queue: the five standard jobs through
  * `runDag` into a fresh directory, then the idempotent re-run of the
  * flagship `alimentacao_parcela_ciot` into the same directory. */
final class NightlyLoad(ctx: Main.Ctx) extends Workload(ctx) {
  val primary: String => Boolean = _ == "pipelines.runDag"
  val aux: String => Boolean = _ == "pipelines.reload"
  private val flagship = "alimentacao_parcela_ciot"
  private var last: Option[String] = None

  private def rows(dir: String) = spark.read.parquet(s"$dir/parcela_ciot").count()

  /** One round; in set-up (`measured = false`) nothing is recorded and
    * any failure ends the run. */
  private def round(out: String, measured: Boolean): Unit = {
    def timed[T](kind: String)(body: => T): T = if (measured) rec.op(kind)(body) else body
    def guard(what: String)(body: => Unit): Boolean =
      if (measured) rec.attempt(what)(body) else { body; true }
    def check(rs: Seq[Orchestrator.JobResult]): Unit =
      rs.find(_.status != Orchestrator.Succeeded).foreach { r =>
        throw new IllegalStateException(s"${r.job.name}: ${r.status}")
      }
    val jobs = Jobs.standardJobs(ctx.data, out)
    val runner = new Orchestrator.PipelineRunner(spark)
    val ran = guard("runDag") {
      val rs = timed("pipelines.runDag")(runner.runDag(jobs, Jobs.standardDeps))
      check(rs)
      require(rs.size == jobs.size, s"runDag ran ${rs.size} of ${jobs.size} jobs")
      if (measured) rs.foreach(r => rec.add(s"job.${r.job.name}.s", r.wallMillis / 1e3))
    }
    if (ran) guard("reload") {
      val before = rows(out)
      check(Seq(timed("pipelines.reload")(runner.runOne(jobs.find(_.name == flagship).get))))
      val inserted = rows(out) - before
      if (measured) rec.add("reload.rows_inserted", inserted.toDouble)
      require(inserted == 0, s"re-run inserted $inserted rows")
    }
  }

  def setup(rep: Int): Unit = {
    val out = path("nightly", s"setup-$rep")
    round(out, measured = false)
    rmrf(out)
  }

  def step(i: Int): Unit = {
    val out = path("nightly", s"round-$i")
    round(out, measured = true)
    last.foreach(rmrf)
    last = Some(out)
  }

  override def finish(): Unit = {
    last.foreach(output("nightly_out", _))
    output("parcela_oracle", graft.pipelines.ParcelaCiot.oracle)
  }

  /** Traced runs only: each short named query once through the noop
    * sink (as the engine's bench materializes them), so the queries
    * layer is profiled. */
  override def probe(): Unit = Workload.probeQueries.foreach { q =>
    rec.attempt(q) {
      rec.op(s"query.$q")(SparkEntry.queries(q)(spark, ctx.data)
        .write.format("noop").mode("overwrite").save())
    }
    spark.catalog.clearCache()
  }
}

/** A commit-log table seeded from `orders` takes a seeded closed loop of
  * changes: two MERGE batches, then a key-range UPDATE or DELETE (they
  * alternate), repeated. Each commit is followed by a point read of a
  * key it touched. The run ends with a change feed over every version. */
final class CdcUpsert(ctx: Main.Ctx) extends Workload(ctx) {
  val primary: String => Boolean =
    Set("commitlog.merge", "commitlog.update", "commitlog.delete")
  val aux: String => Boolean = _ == "commitlog.read_point"
  private val plan = ctx.list("plan")
  private val table = path("cdc", "table")
  private val steps = new java.util.ArrayList[Object]()
  private var base = 0L

  private val key = "o_orderkey"
  private val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority")

  private def range(p: JsonNode) = col(key).between(p.get("lo").asLong, p.get("hi").asLong)

  /** Apply one planned change; returns (version, rows changed). */
  private def commit(table: String, p: JsonNode, timed: Boolean): (Long, Long) = {
    def t[T](kind: String)(body: => T): T = if (timed) rec.op(s"commitlog.$kind")(body) else body
    p.get("kind").asText match {
      case "merge" =>
        val src = spark.read.parquet(p.get("file").asText)
        val (v, u, d, i) = t("merge")(CommitLog.mergeInto(spark, table, src, Seq(key),
          whenMatchedUpdate = payload.map(c => c -> CommitLog.src(c)).toMap))
        (v, u + d + i)
      case "update" =>
        t("update")(CommitLog.update(spark, table, range(p), Map(
          "o_totalprice" -> (col("o_totalprice") + lit(p.get("delta").asDouble)),
          "o_orderstatus" -> lit("U"))))
      case "delete" =>
        t("delete")(CommitLog.delete(spark, table, range(p)))
    }
  }

  private def pointRead(table: String, k: Long, timed: Boolean): java.util.List[Object] = {
    def body = CommitLog.read(spark, table).filter(col(key) === k)
      .select(col(key), col("o_custkey"), col("o_orderstatus"), col("o_totalprice")).collect()
    val rows = if (timed) rec.op("commitlog.read_point")(body) else body
    rows.toSeq.map(r => (0 until r.length).map(i => r.get(i).toString: Object).asJava)
      .headOption.orNull
  }

  /** Trace-only: bytes and files the commit from `before` added. */
  private def accountCommit(table: String, before: Set[String]): Unit =
    if (rec.traced) {
      val after = CommitLog.snapshot(spark, table).map(_.segments.toSet).getOrElse(Set.empty)
      val added = after -- before
      rec.add("commits", 1)
      rec.add("bytes_added", added.toSeq.map(Workload.bytes).sum.toDouble)
      rec.add("files_added", added.toSeq.map(Workload.files).sum.toDouble)
    }

  private def segments(table: String): Set[String] =
    if (rec.traced) CommitLog.snapshot(spark, table).map(_.segments.toSet).getOrElse(Set.empty)
    else Set.empty

  /** Trace-only: manifest-log bytes and table bytes over live bytes. */
  private def accountTable(table: String): Unit =
    if (rec.traced) {
      val live = CommitLog.snapshot(spark, table).toSeq.flatMap(_.segments)
        .map(Workload.bytes).sum.toDouble
      rec.counters("log_bytes") = Workload.bytes(s"$table/_commits").toDouble
      rec.counters("space_amp") = Main.ratio(Workload.bytes(table).toDouble, live)
    }

  private def orders = spark.read.parquet(s"${ctx.data}/orders.parquet")

  /** The measured table is seeded in this many key-range appends and
    * one warm-up MERGE, so the loop starts one version short of the
    * commit log's first checkpoint (every `checkpointInterval`-th
    * version, 10 by default): its second commit writes the checkpoint
    * and later reads resolve from it. */
  private val seedAppends = 7

  /** Seed a throwaway table and run one MERGE and one UPDATE on it. */
  def setup(rep: Int): Unit = {
    val t = path("cdc", s"setup-$rep")
    CommitLog.append(spark, t, orders)
    Seq(0, 2).foreach { i =>
      commit(t, plan(i), timed = false)
      pointRead(t, plan(i).get("point").asLong, timed = false)
    }
    rmrf(t)
  }

  override def prepare(): Unit = {
    val n = orders.count() // keys are 0..n-1
    val versions = (0 until seedAppends).map { i =>
      CommitLog.append(spark, table, orders.filter(
        col(key) >= n * i / seedAppends && col(key) < n * (i + 1) / seedAppends))
    }
    // the table's first MERGE is slower than the rest; keep it out of
    // the window's few samples
    base = commit(table, ctx.cfg.get("warmup"), timed = false)._1
    output("first_version", versions.head)
    output("base_version", base)
  }

  def step(i: Int): Unit = {
    require(i < plan.size, s"the change plan has only ${plan.size} steps")
    val p = plan(i)
    val before = segments(table)
    var version = -1L
    var changed = -1L
    val ok = rec.attempt(p.get("kind").asText) {
      val (v, n) = commit(table, p, timed = true)
      version = v
      changed = n
    }
    if (ok) accountCommit(table, before)
    var point: java.util.List[Object] = null
    val read = rec.attempt("read_point") {
      point = pointRead(table, p.get("point").asLong, timed = true)
    }
    steps.add(map("ok" -> ok, "version" -> version, "changed" -> changed,
      "read_ok" -> read, "point" -> point))
  }

  override def finish(): Unit = {
    rec.attempt("changefeed") {
      output("feed", feedCounts(rec.op("commitlog.changefeed")(
        CommitLog.changeFeed(spark, table, base))))
    }
    accountTable(table)
    val out = s"${ctx.out}/cdc_final"
    CommitLog.read(spark, table).write.parquet(out)
    output("final", out)
    output("steps", steps)
  }

  private def feedCounts(feed: org.apache.spark.sql.DataFrame) =
    feed.groupBy("_commit_version", "_change_type").count().collect().toSeq.map(r =>
      Seq[Object](Long.box(r.getLong(0)), r.getString(1), Long.box(r.getLong(2))).asJava).asJava

  /** Traced runs only: the remaining commit-log reads (time travel,
    * history, snapshot) on the final table, and one streaming replay of
    * staged events through `Streaming.dedupStream` into
    * `Streaming.commitLogUpsertSink`, so the streaming layer is profiled. */
  override def probe(): Unit = {
    val v = base + ctx.cfg.get("probe_version").asLong
    rec.attempt("read_asof") {
      val r = rec.op("commitlog.read_asof")(CommitLog.read(spark, table, Some(v))
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(30,2)"))).collect().head)
      output("read_asof", Seq[Object](Long.box(v), Long.box(r.getLong(0)),
        r.getDecimal(1).toString).asJava)
    }
    rec.attempt("history") {
      output("history", Long.box(rec.op("commitlog.history")(
        CommitLog.history(spark, table).collect()).length))
    }
    rec.attempt("snapshot") {
      output("snapshot", Long.box(rec.op("commitlog.snapshot")(
        CommitLog.snapshot(spark, table, Some(v))).map(_.version).getOrElse(-1L)))
    }
    val dir = ctx.cfg.get("stream_dir").asText
    val sink = path("stream", "table")
    rec.attempt("stream") {
      val src = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1L).parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = rec.op("streaming.run") {
        val q = Streaming.commitLogUpsertSink(Streaming.dedupStream(src, Seq("event_id")),
          sink, Seq("event_id"), "perfbench")
          .option("checkpointLocation", path("stream", "checkpoint"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      rec.add("stream_rows", q.recentProgress.map(_.numInputRows).sum.toDouble)
      val out = s"${ctx.out}/stream_final"
      CommitLog.read(spark, sink).write.parquet(out)
      output("stream_final", out)
    }
  }
}
