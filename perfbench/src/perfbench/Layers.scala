package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Cumulative counters read at request boundaries of a traced round. */
object Counters {
  def snapshot(spark: SparkSession, r: Recorder): Map[String, Double] = {
    org.apache.spark.PerfbenchGlue.drain(spark.sparkContext)
    Map(
      "tasks" -> r.tasks.get.toDouble,
      "empty_tasks" -> r.emptyTasks.get.toDouble,
      "task_cpu_ms" -> r.taskCpuNs.get / 1e6,
      "shuffle_mb" -> r.shuffleBytes.get / 1048576.0,
      "spill_mb" -> r.spillBytes.get / 1048576.0,
      "bytes_written" -> r.outputBytes.get.toDouble,
      "files_discovered" ->
        org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "gc_pause_ms" -> Host.gcPauseMs(),
      "trigger_ms" -> r.streamTotal("triggerExecution").toDouble,
      "planning_ms" -> r.streamTotal("queryPlanning").toDouble,
      "add_batch_ms" -> r.streamTotal("addBatch").toDouble,
      "wal_commit_ms" -> r.streamTotal("walCommit").toDouble)
  }
}

/** The traced run's per-layer figures: per request, then as means over
  * the traced requests of the run. */
final case class Layers(perRequest: Seq[(Main.Req, Map[String, Double])],
                        metrics: Seq[(String, Double, String)])

object Layers {
  /** Every per-layer metric with its unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "tables.schema_jobs" -> "count", "tables.resolve_ms" -> "ms", "tables.files_discovered" -> "count",
    "sql.build_ms" -> "ms", "sql.eager_jobs" -> "count",
    "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_busy_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.shuffle_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.empty_task_ratio" -> "ratio", "exec.driver_gap_ms" -> "ms") ++
    llmRequests.map(q => s"llm.${short(q)}_ms" -> "ms") ++ Seq(
    "llm.cached_mb_peak" -> "MB", "llm.rdds_left" -> "count",
    "folio.write_ms" -> "ms", "folio.compact_ms" -> "ms", "folio.write_jobs" -> "count",
    "folio.bytes_written" -> "bytes", "folio.data_files" -> "count",
    "folio.stored_bytes_per_input_byte" -> "ratio",
    "stream.start_ms" -> "ms", "stream.trigger_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "jvm.gc_pause_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.peak_rss_mb" -> "MB") ++
    selfLayers.map(l => s"self.${l}_ms" -> "ms") ++ Seq(
    "request.wall_ms" -> "ms", "trace.residual_ms" -> "ms", "trace.overhead_pct" -> "%",
    "host.steal_pct" -> "%", "host.load_avg" -> "load")

  lazy val selfLayers: Seq[String] =
    Seq("tables", "exec", "codegen", "catalyst", "sql", "llm", "folio", "stream", "query",
        "driver", "unattributed")

  lazy val llmRequests: Seq[String] = Workloads.corpus.map(_._1)

  def short(q: String): String = q.takeWhile(_ != '_')
  def unitOf(k: String): String = all.find(_._1 == k).map(_._2).getOrElse("count")

  /** Every per-layer metric, zero where the workload does not cross it. */
  def complete(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val got = ms.map(m => m._1 -> m).toMap
    all.map { case (k, u) => got.getOrElse(k, (k, 0.0, u)) }
  }

  private val phaseNames = Seq("analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "plan")

  def apply(reqs: Seq[Main.Req], rec: Recorder): Layers = {
    val jobs = rec.jobs.values.asScala.toSeq
    val stages = rec.stages.asScala.toSeq
    val phases = rec.phases.asScala.toSeq
    val codegen = rec.codegen.asScala.toSeq
    val traced = reqs.filter(_.traced)
    val perRequest = traced.map { q =>
      val (w0, w1) = (q.start, q.end)
      val js = jobs.filter(j => j.start <= w1 && (j.end.isNaN || j.end >= w0))
      def span(j: JobRec) = (j.start, if (j.end.isNaN) w1 else j.end)
      val schema = js.filter(_.schemaJob)
      val build = q.span("build")
      val inBuild = build.toSeq.flatMap(b => js.filter(j => j.start >= b.start - 1 && j.start <= b.end))
      val intervals =
        js.map { j => val (a, b) = span(j)
          Attribution.Interval(a, b, if (j.schemaJob) "tables" else "exec", 1) } ++
        codegen.map { case (a, b) => Attribution.Interval(a, b, "codegen", 2) } ++
        phases.map { case (_, a, b) => Attribution.Interval(a, b, "catalyst", 3) } ++
        build.map(b => Attribution.Interval(b.start, b.end, q.t.module, 4)) ++
        q.span("action").map(a => Attribution.Interval(a.start, a.end, "driver", 5))
      val self = Attribution.split(w0, w1, intervals)
      val busy = Attribution.unionMs(w0, w1, js.map(span))
      val c = q.counters
      val isSql = q.t.module == "sql"
      val folioWrite = Set("append", "upsert", "compact")(q.t.name)
      val m = Map(
        "tables.schema_jobs" -> schema.size.toDouble,
        "tables.resolve_ms" -> Attribution.unionMs(w0, w1, schema.map(span)),
        "tables.files_discovered" -> c("files_discovered"),
        "sql.build_ms" -> (if (isSql) build.fold(0.0)(b =>
          b.ms - Attribution.unionMs(b.start, b.end, inBuild.map(span))) else 0.0),
        "sql.eager_jobs" -> (if (isSql) inBuild.size.toDouble else 0.0),
        "codegen.compiles" -> c("compiles"),
        "codegen.compile_ms" -> Attribution.unionMs(w0, w1, codegen),
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> stages.count { case (a, _) => a >= w0 - 1 && a <= w1 }.toDouble,
        "exec.tasks" -> c("tasks"),
        "exec.job_busy_ms" -> busy,
        "exec.task_cpu_ms" -> c("task_cpu_ms"),
        "exec.shuffle_mb" -> c("shuffle_mb"),
        "exec.spill_mb" -> c("spill_mb"),
        "exec.driver_gap_ms" -> (q.wall - busy),
        "folio.write_ms" -> (if (q.t.name == "append" || q.t.name == "upsert") build.fold(0.0)(_.ms) else 0.0),
        "folio.compact_ms" -> (if (q.t.name == "compact") build.fold(0.0)(_.ms) else 0.0),
        "folio.write_jobs" -> (if (folioWrite) inBuild.size.toDouble else 0.0),
        "folio.bytes_written" -> (if (folioWrite) c("bytes_written") else 0.0),
        "stream.start_ms" -> q.span("stream.start").fold(0.0)(_.ms),
        "stream.trigger_ms" -> c("trigger_ms"),
        "stream.planning_ms" -> c("planning_ms"),
        "stream.add_batch_ms" -> c("add_batch_ms"),
        "stream.wal_commit_ms" -> c("wal_commit_ms"),
        "jvm.gc_pause_ms" -> c("gc_pause_ms"),
        "request.wall_ms" -> q.wall,
        "trace.residual_ms" -> math.abs(self.values.sum - q.wall)) ++
        phaseNames.map { case (p, n) =>
          s"catalyst.${n}_ms" -> Attribution.unionMs(w0, w1,
            phases.collect { case (`p`, a, b) => (a, b) }) } ++
        selfLayers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0))
      (q, m)
    }
    val n = math.max(1, perRequest.size).toDouble
    def mean(k: String) = perRequest.map(_._2(k)).sum / n
    val means = perRequest.headOption.toSeq.flatMap(_._2.keys)
      .filterNot(_ == "trace.residual_ms").map(k => (k, mean(k), unitOf(k)))
    val tasks = traced.map(_.counters("tasks")).sum
    val untracedReads = reqs.filter(q => !q.traced && q.t.read).map(_.wall)
    val tracedReads = traced.filter(_.t.read).map(_.wall)
    val extra = Seq(
      ("exec.empty_task_ratio",
        if (tasks > 0) traced.map(_.counters("empty_tasks")).sum / tasks else 0.0, "ratio"),
      ("llm.cached_mb_peak", rec.cachedPeak.get / 1048576.0, "MB"),
      ("llm.rdds_left", traced.map(_.counters("rdds_left")).maxOption.getOrElse(0.0), "count"),
      ("jvm.heap_peak_mb", Host.heapPeakMb(), "MB"),
      ("jvm.peak_rss_mb", Host.vmHwmKb() / 1024, "MB"),
      ("trace.residual_ms", perRequest.map(_._2("trace.residual_ms")).maxOption.getOrElse(0.0), "ms"),
      ("trace.overhead_pct",
        if (untracedReads.isEmpty || tracedReads.isEmpty) 0.0
        else 100 * (Stats.median(tracedReads) / Stats.median(untracedReads) - 1), "%")) ++
      llmRequests.map { name =>
        val ws = traced.filter(_.t.name == name).map(_.wall)
        (s"llm.${short(name)}_ms", if (ws.isEmpty) 0.0 else ws.sum / ws.size, "ms")
      }
    Layers(perRequest, means ++ extra)
  }

  /** Per-request records, written when the run ends. */
  def writeTrace(path: String, workload: String, seed: Long, seqHash: String,
                 perRequest: Seq[(Main.Req, Map[String, Double])]): Unit = {
    val reqs = perRequest.map { case (q, m) =>
      val spans = q.spans.map(s =>
        s"{\"name\":${Json.str(s.name)},\"start_ms\":${Json.num(s.start)},\"ms\":${Json.num(s.ms)}}")
      s"{\"seq\":${q.seq},\"round\":${q.round},\"request\":${Json.str(q.t.name)}," +
        s"\"module\":${Json.str(q.t.module)},\"spans\":${spans.mkString("[", ",", "]")}," +
        s"\"metrics\":${m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}"
    }
    val doc = s"{\"workload\":${Json.str(workload)},\"seed\":$seed,\"sequence\":${Json.str(seqHash)}," +
      s"\"requests\":${reqs.mkString("[\n", ",\n", "\n]")}}\n"
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, doc)
  }
}
