package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Accumulates execution metrics between per-query snapshots so a bench
  * outlier is ATTRIBUTABLE (spill? GC? memory pressure? more jobs?)
  * instead of adjudicated by re-running. Jobs started and stages
  * completed are steal-immune: host contention inflates seconds but not
  * how many jobs and stages a plan runs. Counters are cumulative;
  * [[snapshot]] diffs against the caller's previous snapshot. */
private[graft] class BenchListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong     // completed stages
  val spill = new AtomicLong      // memory+disk bytes spilled
  val shufRead = new AtomicLong   // shuffle bytes read
  val shufWrite = new AtomicLong  // shuffle bytes written
  val tasks = new AtomicLong
  @volatile var peak = 0L         // max per-task peakExecutionMemory, window-local
  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      tasks.incrementAndGet()
      if (m.peakExecutionMemory > peak) peak = m.peakExecutionMemory
    }
  }
  case class Snap(spill: Long, shufRead: Long, shufWrite: Long, tasks: Long,
                  jobs: Long, stages: Long)
  def snapshot(): Snap =
    Snap(spill.get, shufRead.get, shufWrite.get, tasks.get, jobs.get, stages.get)
  def resetPeak(): Unit = peak = 0L
}

object Bench {
  private def mb(bytes: Long): Long = bytes >> 20

  private def jq(x: String): String = graft.tools.JsonText.str(x)

  /** Stop-the-world GC time of this JVM so far, in ms: the collectors
    * whose name contains `Concurrent` run beside the application and
    * pause nothing. Under `local[*]` the tasks run in this JVM, so a
    * per-query delta is the pause that query's wall clock saw. */
  private def gcPauseMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
      .map(_.getCollectionTime).sum
  }

  /** Timed passes over the suite: `SPARK_GRAFT_BENCH_PASSES`, default 3.
    * The headline per-query value is the min over passes, so a host
    * contention spike must hit the same query in every pass to reach
    * it. A value that is not an integer >= 1 is refused, not guessed. */
  private[graft] def passCount(v: Option[String]): Int = v.fold(3) { s =>
    s.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_BENCH_PASSES must be an integer >= 1, got '$s'"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nPasses = passCount(sys.env.get("SPARK_GRAFT_BENCH_PASSES"))
    val spark = Engine.session()
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val gc0 = gcPauseMs()
    // untimed warmup: pays one-off session/codegen/JIT costs so per-query
    // numbers reflect steady state (the first query would otherwise pay
    // several seconds of it).
    // DETERMINISTIC choice (sorted first = q01, a plain aggregate):
    // Map.head is hash-order and could land on a per-JVM index BUILDER
    // (q133/…) and hide its build cost, which the first pass's "build"
    // slice exists to show. Against THIS run's sfDir — entry() hardcodes
    // sf0.001, which may not exist on a bench-only host; a swallowed
    // failure is at least named so a cold first query is explainable
    try { SparkEntry.queries.toSeq.sortBy(_._1).head._2(spark, sfDir).count() } catch {
      case e: Throwable =>
        System.err.println(s"BENCH WARMUP SKIPPED: ${e.getMessage}")
    }
    // optional comma-separated query filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q29,q33 (see SparkEntry.select); the official
    // record is unfiltered. A set-but-EMPTY var (unset shell interpolation)
    // is NOT a filter: it runs the full suite and writes the official artifacts
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",").toSeq
    // a throwing query must NOT report as a fast success: its name lands
    // in "failures" (and on stderr) so a regression can't shrink the total
    val failures = scala.collection.mutable.LinkedHashSet[String]()
    val queryList = SparkEntry.select(only)

    // One timed sweep over the suite. Returns (name, sec, attributionJson).
    def runPass(): Seq[(String, Double, String)] = queryList.map { case (name, fn) =>
      org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)
      val before = listener.snapshot()
      val gcBefore = gcPauseMs()
      listener.resetPeak()
      graft.tools.StageTimer.drain() // clear any carry-over
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)
      val after = listener.snapshot()
      val gcPause = gcPauseMs() - gcBefore
      val stages = graft.tools.StageTimer.drain()
      val stagesJson = if (stages.isEmpty) ""
        else stages.toSeq.sortBy(_._1)
          .map { case (k, v) => jq(k) + s":$v" }
          .mkString(""","stages":{""", ",", "}")
      val attr =
        s"""{"ms":${math.round(sec * 1000)},"spillMB":${mb(after.spill - before.spill)},""" +
        s""""gcPauseMs":$gcPause,"peakMB":${mb(listener.peak)},""" +
        s""""srMB":${mb(after.shufRead - before.shufRead)},"swMB":${mb(after.shufWrite - before.shufWrite)},""" +
        s""""tasks":${after.tasks - before.tasks},"jobs":${after.jobs - before.jobs},""" +
        s""""stagesRun":${after.stages - before.stages}$stagesJson}"""
      (name, sec, attr)
    }

    // The first pass also absorbs the one-off costs (JIT/codegen warmup
    // tails, the per-JVM index builds of q133/q134/q135/q156), which its
    // record shows as "build" slices; later passes price steady-state probes
    val passes = (1 to nPasses).map { _ => runPass() }
    val names = queryList.map(_._1)
    // per-query min across passes, plus the pass index that achieved it
    val results = names.zipWithIndex.map { case (name, i) =>
      val runs = passes.map(_(i))
      val best = runs.minBy(_._2)
      (name, best._2, best._3)
    }
    // Keep the WHOLE line under the 2000-char tail window its readers
    // parse (a longer line is cut and parses as null): short keys (the
    // qNN prefix is unique) + integer milliseconds.
    val qs = results.map { case (k, v, _) =>
      val short = k.takeWhile(_ != '_')
      s"\"" + short + "\":" + math.round(v * 1000)
    }.mkString("{", ",", "}")
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val passTotals = passes.map(p => math.round(p.map(_._2).sum * 1000) / 1000.0)
    val end = listener.snapshot()
    // run-wide attribution rides IN the tail line (short); per-query
    // attribution goes to a file + an earlier stdout line (long)
    val attrSummary =
      s""""spillMB":${mb(end.spill)},"gcPauseMs":${gcPauseMs() - gc0},"srMB":${mb(end.shufRead)},"swMB":${mb(end.shufWrite)}"""
    // per-query attribution = the window of the pass that set the min
    val perQuery = names.zipWithIndex.map { case (name, i) =>
      s"\"${name.takeWhile(_ != '_')}\":${results(i)._3}"
    }.mkString("{", ",", "}")
    // full family record: every pass's attribution per query, aligned
    // index-for-index with `passes` and `pass_kinds`
    val passKinds = passes.map(_ => "headline")
    val family = names.zipWithIndex.map { case (name, i) =>
      val runs = passes.map(_(i)._3).mkString("[", ",", "]")
      s"\"$name\":$runs"
    }.mkString("{", ",", "}")
    // The record says whether it was taken in a quiet window. A host
    // steal window inflates one pass but rarely all of them equally, so
    // max/min-1 over sequential same-code passes is the contention
    // signal: <= 10% ≈ the quiet records' observed 2-4%; noisy windows
    // run 40-90%.
    def spreadOf(ts: Seq[Double]): Option[Double] =
      if (ts.size >= 2 && ts.min > 0)
        Some(math.round((ts.max / ts.min - 1) * 1000) / 10.0)
      else None
    val spreadPct = spreadOf(passTotals)
    // QUIET is judged on the STEADY passes — all passes except the first
    // when ≥3 ran: the first pays the JIT tails and the index builds,
    // while genuine steal windows spike RANDOM passes. Both numbers ride
    // in the record so the judgment is inspectable either way.
    val steadySpreadPct =
      if (passTotals.size >= 3) spreadOf(passTotals.tail) else spreadPct
    val quiet = steadySpreadPct.exists(_ <= 10.0)
    val windowJson =
      s""""quiet":$quiet,"pass_spread_pct":${spreadPct.fold("null")(_.toString)},""" +
      s""""steady_spread_pct":${steadySpreadPct.fold("null")(_.toString)}"""
    val familyDoc =
      s"""{"passes":${passTotals.mkString("[", ",", "]")},"pass_kinds":${passKinds.map(jq).mkString("[", ",", "]")},$windowJson,"rejected_runs":[],"sf":${jq(sfDir)},"queries":$family}"""
    // A failing query contributes only its fail-fast ms, so a correctness
    // break would otherwise SHRINK the headline and read as a speedup.
    // Stamp the headline invalid whenever any query failed: totals are
    // only comparable when the substrate is green.
    val valid = failures.isEmpty
    val line =
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","qunit":"ms","valid":$valid,$windowJson,"n_failures":${failures.size},"passes":${passTotals.mkString("[", ",", "]")},"queries":$qs,"failures":$fails,$attrSummary,"sf":${jq(sfDir)}}"""
    // a SPARK_GRAFT_ONLY iteration run must not overwrite the official
    // full-suite records with subset data (an adjudicator reading the
    // file later would see a tiny "suite" with no marker a filter ran)
    if (only.forall(_.trim.isEmpty)) {
      // the unsuffixed filenames are the OFFICIAL sf0.1 record; a bench
      // at any other scale factor (the sf1 sweep, a local sf0.01
      // iteration) writes `.<sfname>` twins so it can never overwrite the
      // official record with numbers from a different data scale.
      // canonical compare, not string equality: a trailing slash, a
      // relative spelling, or a symlink to the same fixture must still
      // land on the official record, not silently divert to a twin
      val official = scala.util.Try(
        new java.io.File(sfDir).getCanonicalFile ==
          new java.io.File("/root/testdata/sf0.1").getCanonicalFile
      ).getOrElse(false)
      val suffix =
        if (official) "" else "." + new java.io.File(sfDir).getName
      // a NOISY run must not replace a QUIET record: if the record on
      // disk says quiet and this run does not, keep the record and log
      // this run's pass totals into its rejected_runs. A quiet run (or a
      // first / un-annotated / noisy-over-noisy state) writes through.
      val famPath = java.nio.file.Paths.get(s"BENCH_FAMILY$suffix.json")
      val existingQuiet = scala.util.Try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(famPath))
        node.path("quiet").asBoolean(false)
      }.getOrElse(false)
      if (existingQuiet && !quiet) {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = m.readTree(java.nio.file.Files.readString(famPath))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val rej = node.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("rejected_runs")
        val run = rej.addObject()
        val pa = run.putArray("passes"); passTotals.foreach(pa.add)
        val pk = run.putArray("pass_kinds"); passKinds.foreach(pk.add)
        spreadPct.foreach(run.put("pass_spread_pct", _))
        java.nio.file.Files.write(famPath,
          (m.writeValueAsString(node) + "\n").getBytes("UTF-8"))
        System.err.println(
          s"BENCH: noisy window (spread ${spreadPct.fold("n/a")(_ + "%")}) — " +
          s"quiet record kept, this run logged under rejected_runs")
      } else {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"BENCH_ATTRIBUTION$suffix.json"),
          (perQuery + "\n").getBytes("UTF-8"))
        java.nio.file.Files.write(famPath,
          (familyDoc + "\n").getBytes("UTF-8"))
      }
    } else System.err.println(
      "BENCH: SPARK_GRAFT_ONLY set — attribution/family files NOT written")
    println(s"""{"metric":"attribution","queries":$perQuery}""")
    println(line)
    spark.stop()
    // absolute last stdout line, after Spark's shutdown chatter (which
    // goes to stderr): the driver's tail-parse sees this one
    println(line)
  }
}
