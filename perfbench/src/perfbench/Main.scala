package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: one set-up with untimed warm-up rounds,
  * then timed rounds.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data SF_DIR --tmp DIR --expected FILE --out FILE
  * }}}
  * Prints one `PERFBENCH_RESULT {...}` line; `perfbench/run.py` is the
  * command that builds, launches and checks this. */
object Main {
  /** Untimed rounds before timing; they count in `setup_s`. */
  val WarmupRounds = 2
  /** Each request type's median latency needs more than one round. */
  val MinTimedRounds = 2
  /** No timed round starts later than this after JVM start, so a run on
    * a slow host still ends inside its time limit. */
  val DeadlineMs = 130000.0

  final class Req(val seq: Int, val round: Int, val t: RequestType, val traced: Boolean) {
    var spans: Seq[Span] = Nil
    var items = 0L
    var error: Option[String] = None
    // per-request counter deltas, traced requests only
    var counters: Map[String, Double] = Map.empty
    def start: Double = spans.map(_.start).min
    def end: Double = spans.map(_.end).max
    def wall: Double = end - start
    def span(name: String): Option[Span] = spans.find(_.name == name)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val tmp = opt("tmp")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val host0 = Host.sample()
    val expected = Workloads.loadExpected(opt("expected"))
    val w = Workloads(opt("workload"), seed, data, tmp, expected)

    val reqs = ArrayBuffer[Req]()
    val recorder = new Recorder
    var spark: SparkSession = null
    var seqNo = 0
    val loads = ArrayBuffer[Double]()

    def runRound(r: Int, timed: Boolean, traced: Boolean): Unit = {
      val roundStart = Clock.now
      if (traced) recorder.attach(spark)
      w.round(seed, r).foreach { t =>
        val req = new Req(seqNo, r, t, traced)
        seqNo += 1
        val timer = new Timer
        val before = if (traced) Counters.snapshot(spark, recorder) else Map.empty[String, Double]
        try {
          val o = t.body(timer)
          req.items = o.items
          req.spans = timer.spans.toSeq
          req.error = o.check()
        } catch { case e: Throwable =>
          req.spans = if (timer.spans.nonEmpty) timer.spans.toSeq else Seq(Span("build", Clock.now, Clock.now))
          req.error = Some(s"${t.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        if (traced) {
          val after = Counters.snapshot(spark, recorder)
          req.counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
            Map("rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
        }
        req.error.foreach(e => System.err.println(s"[perfbench] FAILED request ${req.seq}: $e"))
        if (timed || req.error.nonEmpty) reqs += req
      }
      if (traced) recorder.detach(spark)
      loads += Host.load1()
      System.err.println(f"[perfbench] round $r ${if (timed) "timed" else "warm-up"} " +
        f"${Clock.now - roundStart}%.0f ms (${(Clock.now - jvmStart) / 1000}%.1f s after JVM start)")
    }

    // set-up: JVM start to the first timed request, less the time spent
    // making the seeded inputs
    spark = graft.Engine.session()
    val genStart = Clock.now
    w.generate(spark)
    val genMs = Clock.now - genStart
    w.prepare(spark)
    (0 until WarmupRounds).foreach(r => runRound(r, timed = false, traced = false))
    val setupS = (Clock.now - jvmStart - genMs) / 1000
    val seqHash = Gen.sha256Hex(
      (0 until 64).map(r => w.round(seed, r).map(_.name).mkString(",")).mkString(";") +
        "|" + w.fingerprint).take(16)
    System.err.println(s"[perfbench] ${w.name} seed=$seed sequence=$seqHash " +
      f"setup_s=$setupS%.2f inputs_s=${genMs / 1000}%.2f")

    // timed rounds, at least MinTimedRounds; a traced run alternates
    // traced and untraced rounds
    Host.resetHeapPeak()
    recorder.resetCachedPeak()
    val timedStart = Clock.now
    var r = WarmupRounds
    while ((Clock.now - timedStart < seconds * 1000 || r < WarmupRounds + MinTimedRounds) &&
           Clock.now - jvmStart < DeadlineMs) {
      runRound(r, timed = true, traced = trace && (r - WarmupRounds) % 2 == 0)
      r += 1
    }
    val timedRounds = r - WarmupRounds

    val rddsLeft = spark.sparkContext.getPersistentRDDs.size
    val finish = w.finish()
    val host1 = Host.sample()
    spark.stop()

    val timedReqs = reqs.filter(_.round >= WarmupRounds).toSeq
    val attempted = seqNo
    val failures = reqs.count(_.error.nonEmpty)
    val problems = ArrayBuffer[String]()
    if (rddsLeft > 3) problems += s"$rddsLeft persistent RDDs left at the end (at most 3 allowed)"
    if (timedReqs.isEmpty) problems += "no timed round completed"
    problems.foreach(p => System.err.println(s"[perfbench] $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd(setupS, timedReqs.filter(_.error.isEmpty))
      else {
        val layers = Layers(timedReqs, recorder)
        Layers.writeTrace(opt("out"), w.name, seed, seqHash, layers.perRequest)
        Layers.complete(layers.metrics ++ finish.map { case (k, v) => (k, v, Layers.unitOf(k)) } ++
          Seq(("host.steal_pct", Host.stealPct(host0, host1), "%"),
              ("host.load_avg", loads.sum / loads.size, "load")))
      }
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    println(s"PERFBENCH_RESULT {\"correct\":${failures == 0 && problems.isEmpty}," +
      s"\"attempted\":$attempted,\"failed\":$failures,\"metrics\":{$body}}")
    timedReqs.groupBy(_.t.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      System.err.println(s"[perfbench] latency $n ${rs.map(q => f"${q.wall}%.1f").mkString(" ")}")
    }
    System.err.println(s"[perfbench] ${w.name}: $timedRounds timed rounds, " +
      s"${timedReqs.size} timed requests, $failures failed of $attempted, " +
      s"steal ${Json.num(Host.stealPct(host0, host1))}%, load ${Json.num(loads.sum / loads.size)}")
  }
}

object Json {
  def str(s: String): String = graft.tools.JsonText.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** The end-to-end metrics, from the untraced timed requests.
  *
  * `p50_ms` is the geometric mean over the read request types of each
  * type's median latency, so every type moves it in proportion to its
  * change. `items_per_s` is the items of every throughput request over
  * the sum of their wall times. */
object EndToEnd {
  def apply(setupS: Double, reqs: Seq[Main.Req]): Seq[(String, Double, String)] = {
    val medians = reqs.filter(_.t.read).groupBy(_.t).values.map(rs => Stats.median(rs.map(_.wall))).toSeq
    val thr = reqs.filter(_.t.throughput)
    Seq(
      ("setup_s", setupS, "s"),
      ("p50_ms", Stats.geomean(medians), "ms"),
      ("items_per_s", thr.map(_.items).sum / (thr.map(_.wall).sum / 1000), "1/s"))
  }
}

/** Process and host readings from /proc and the JVM. */
object Host {
  final case class CpuTicks(total: Long, steal: Long)

  def sample(): CpuTicks = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      CpuTicks(cpu.take(8).sum, if (cpu.length > 7) cpu(7) else 0L)
    } finally f.close()
  }

  def stealPct(a: CpuTicks, b: CpuTicks): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0

  def load1(): Double = {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.mkString.split("\\s+")(0).toDouble finally f.close()
  }

  def vmHwmKb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally f.close()
  }

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Stop-the-world GC time so far, summed over the pause collectors. */
  def gcPauseMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent")).map(_.getCollectionTime.toDouble).sum
}
