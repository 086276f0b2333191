package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Generated classes are shared across sessions (see `Engine.session`):
  * a streaming query runs its batches in a clone of the session, and a
  * `newSession()` is a session of its own, yet neither recompiles the
  * classes a warm session already holds. */
class StreamCodegenReuseSpec extends SparkSpec {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a rollup stream with a fresh source and checkpoint compiles no class after a warm one") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_reuse").toString
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def stream(n: Int): Unit = {
      val input = MemoryStream[(Long, String, Double)]
      val q = graft.streaming.EventStream.rollupStream(
        input.toDF().toDF("event_id", "event_type", "value"), s"$root/rollup",
        Seq("event_type"), Seq("value"), Some(s"$root/checkpoint-$n"))
      try {
        input.addData((2L * n, "click", 1.25 * n), (2L * n + 1, "view", 0.5))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception)
    }
    stream(1) // lands the rollup's first version
    stream(2) // the warm run: merges a batch into the stored rollup
    val compiled = compiles(stream(3))
    assert(compiled == 0, s"$compiled classes recompiled by the next stream")
    val rolled = graft.io.Folio.rollupRead(spark, s"$root/rollup")
      .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    assert(rolled == Map("click" -> 3L, "view" -> 3L))
  }

  test("the interactive queries in spark.newSession() compile no class after a warm pass") {
    val interactive = CodegenCacheSpec.interactive
    interactive.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    val fresh = spark.newSession()
    graft.functions.GraftFunctions.registerAll(fresh)
    val compiled = compiles(interactive.foreach(q => SparkEntry.queries(q)(fresh, sf).collect()))
    assert(compiled == 0, s"$compiled classes recompiled in a new session")
  }
}
