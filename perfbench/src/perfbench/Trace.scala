package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed interval of the benchmark's own code. */
final case class Span(name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class JobRec(start: Double, var end: Double,
                        sqlExecution: Boolean, stageNames: Seq[String]) {
  /** A job outside any SQL execution whose stage is named after a
    * parquet read: the schema inference a `read.parquet` launches. */
  def schemaJob: Boolean = !sqlExecution && stageNames.exists(_.startsWith("parquet at "))
}

/** Everything the traced run listens to, in memory until the run ends. */
final class Recorder extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[(Double, Double)]()
  val tasks, taskCpuNs, emptyTasks, shuffleBytes, spillBytes, outputBytes = new AtomicLong
  private val cachedBlocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val cached = new AtomicLong
  val cachedPeak = new AtomicLong
  /** (phase, start, end) from each action's planning tracker. */
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  val codegen = new ConcurrentLinkedQueue[(Double, Double)]()
  val streamMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sqlExec = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    val names = e.stageInfos.map(_.name)
    jobs.put(e.jobId, JobRec(e.time.toDouble, Double.NaN, sqlExec, names))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages.add((s.toDouble, c.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
        emptyTasks.incrementAndGet()
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val prev = Option(cachedBlocks.put(i.blockId.name, size)).getOrElse(0L)
      val now = cached.addAndGet(size - prev)
      cachedPeak.accumulateAndGet(now, math.max)
    }
  }

  def resetCachedPeak(): Unit = cachedPeak.set(cached.get)

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        streamMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v.longValue)
      }
  }

  def streamTotal(key: String): Long = Option(streamMs.get(key)).map(_.get).getOrElse(0L)

  // ----- attach / detach

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val appender = new CodegenAppender(codegen)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    CodegenAppender.install(codegenLogger, appender)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchGlue.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    CodegenAppender.uninstall(codegenLogger, appender)
  }
}

/** Captures the code generator's "Code generated in N ms" lines as
  * [end - N, end] intervals; Spark's CodegenMetrics only keeps a sampled
  * histogram of the times. */
final class CodegenAppender(sink: ConcurrentLinkedQueue[(Double, Double)])
  extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-codegen", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    e.getMessage.getFormattedMessage match {
      case Line(ms) =>
        val end = e.getTimeMillis.toDouble
        sink.add((end - ms.toDouble, end))
      case _ =>
    }
}

object CodegenAppender {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.LoggerContext
  import org.apache.logging.log4j.core.config.LoggerConfig

  private def context = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(logger: String, a: CodegenAppender): Unit = {
    val ctx = context
    a.start()
    val lc = new LoggerConfig(logger, Level.INFO, false)
    lc.addAppender(a, Level.INFO, null)
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
  }

  def uninstall(logger: String, a: CodegenAppender): Unit = {
    val ctx = context
    ctx.getConfiguration.removeLogger(logger)
    ctx.updateLoggers()
    a.stop()
  }
}

/** Splits a request's wall time into disjoint per-layer self times. Each
  * instant of the request window goes to the covering interval with the
  * highest priority (lowest number); instants no interval covers are
  * "unattributed". The parts therefore add up to the window exactly. */
object Attribution {
  final case class Interval(start: Double, end: Double, layer: String, priority: Int)

  def split(w0: Double, w1: Double, spans: Seq[Interval]): Map[String, Double] = {
    val clipped = spans.flatMap { s =>
      val a = math.max(s.start, w0); val b = math.min(s.end, w1)
      if (b > a) Some(s.copy(start = a, end = b)) else None
    }
    val cuts = (Seq(w0, w1) ++ clipped.flatMap(s => Seq(s.start, s.end))).distinct.sorted
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val owner = clipped.filter(s => s.start <= a && s.end >= b)
      val layer = if (owner.isEmpty) "unattributed" else owner.minBy(_.priority).layer
      out(layer) += b - a
    }
    out.toMap
  }

  /** Total length of the union of intervals, clipped to [w0, w1]. */
  def unionMs(w0: Double, w1: Double, xs: Seq[(Double, Double)]): Double =
    split(w0, w1, xs.map { case (a, b) => Interval(a, b, "x", 0) }).getOrElse("x", 0.0)
}
