package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache holds the warm working set of an
  * interactive session: a second pass over the same queries compiles
  * nothing (see `Engine.session`). */
class CodegenCacheSpec extends SparkSpec {
  import CodegenCacheSpec.interactive

  test("a second pass over the interactive queries compiles no class") {
    def pass(): Unit = interactive.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes recompiled on the warm pass")
  }
}

object CodegenCacheSpec {
  /** The benchmark's `interactive` mix: operator families, native as-of,
    * and Kerf dialect text. */
  val interactive = Seq("q02_filter_project", "q04_join_agg", "q11_window_rank",
    "q45_asof_native", "q52_kerf_text", "q100_kerf_bars", "q162_kerf_fby")
}
