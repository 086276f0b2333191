package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Range, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.plans.{AsOfJoinPlan, SingleTaskSortRule}

/** A small global sort over measured stage output runs in one task: no
  * sampling job, no range shuffle (`plans.SingleTaskSortRule`). */
class SingleTaskSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Spark jobs started while `f` runs, and its result. */
  private def withJobs[T](f: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)
      (r, started.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Builds and collects query `q` in `s`: its rows, its executed plan
    * (final once collected) and the jobs it started. */
  private def run(s: SparkSession, q: String, dir: String = sf): (Seq[Row], SparkPlan, Int) = {
    val ((rows, plan), jobs) = withJobs {
      val df = SparkEntry.queries(q)(s, dir)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    (rows, plan, jobs)
  }

  private def rangeExchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  /** A `spark.newSession()` with the graft functions and `conf` set. */
  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.registerAll(s)
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  // q45 at sf0.01: there Spark's default estimate for the as-of join (the
  // product of both sides' sizes) is above the threshold
  private val pinned = Seq(("q11_window_rank", 2, sf), ("q52_kerf_text", 2, sf),
    ("q45_asof_native", 3, sf.replace("sf0.001", "sf0.01")))

  pinned.foreach { case (q, want, dir) =>
    test(s"$q sorts in one task: $want jobs, no range exchange, the old plan's answer") {
      // a plain spark.newSession(): the rule holds in every session
      val (rows, plan, jobs) = run(session(), q, dir)
      assert(jobs == want, s"$q started $jobs jobs\n$plan")
      assert(rangeExchanges(plan).isEmpty, plan)
      assert(rows.nonEmpty)
      // an advisory partition size of 1 byte, which no sort fits under
      val old = session("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")
      val (oldRows, oldPlan, oldJobs) = run(old, q, dir)
      assert(rangeExchanges(oldPlan).nonEmpty, oldPlan)
      assert(oldJobs == want + 2, s"$q started $oldJobs jobs under the old plan\n$oldPlan")
      assert(rows == oldRows)
    }
  }

  test("the bench listener counts q11's jobs and stages like a plain listener") {
    val bench = new BenchListener
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val plain = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(bench)
    sc.addSparkListener(plain)
    try {
      org.apache.spark.GraftBenchGlue.drainListeners(sc)
      val before = bench.snapshot()
      stages.set(0)
      val (_, _, jobs) = run(session(), "q11_window_rank")
      val after = bench.snapshot()
      assert(after.jobs - before.jobs == jobs)
      assert(after.stages - before.stages == stages.get && stages.get >= jobs)
      assert(jobs == 2)
    } finally { sc.removeSparkListener(bench); sc.removeSparkListener(plain) }
  }

  test("a top-K, a sort over a scan and a streaming plan keep their plans; local rows do not") {
    val (_, topK, _) = run(spark, "q03_topk")
    assert(collect(topK) { case t: TakeOrderedAndProjectExec => t }.size == 1, topK)
    // q02 sorts a filtered scan: no stage is measured under the sort
    val (_, scan, _) = run(spark, "q02_filter_project")
    assert(rangeExchanges(scan).size == 1, scan)

    val s = spark
    import s.implicits._
    val local = Seq(3, 1, 2).toDF("v").orderBy("v").queryExecution.analyzed
    assert(SingleTaskSortRule(local) match {
      case Sort(_, true, Repartition(1, false, _), _) => true
      case _ => false
    }, "a sort over local rows runs in one task")
    val limited = Seq(3, 1, 2).toDF("v").orderBy("v").limit(2).queryExecution.analyzed
    assert(SingleTaskSortRule(limited) eq limited)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Int]
    val counts = input.toDF().groupBy("value").count().orderBy(col("count").desc, col("value"))
    val streaming = counts.queryExecution.analyzed
    assert(streaming.isStreaming && (SingleTaskSortRule(streaming) eq streaming))
    val q = counts.writeStream.format("memory").queryName("single_task_sort_stream")
      .outputMode("complete").start()
    try {
      input.addData(1, 2, 2, 3, 3, 3)
      q.processAllAvailable()
      assert(spark.table("single_task_sort_stream").as[(Int, Long)].collect().toSeq ==
        Seq(3 -> 3L, 2 -> 2L, 1 -> 1L))
    } finally q.stop()
  }

  test("AsOfJoinPlan estimates one output row per left row") {
    val l = Range(0, 1000, 1, None)
    val r = Range(0, 500, 1, None)
    val lId = l.output.head; val rId = r.output.head
    val j = AsOfJoinPlan(l, r, Seq(lId), Seq(rId), lId, rId, strict = false)
    assert(j.stats.rowCount.contains(BigInt(1000)))
    // 1000 rows of 8 bytes, scaled by row width (8 + 16) / (8 + 8)
    assert(j.stats.sizeInBytes == BigInt(12000))
  }
}
