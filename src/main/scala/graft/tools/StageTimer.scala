package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-query STAGE attribution for the bench: multi-stage operators
  * (persisted-index build vs probe, the dedup shingle/band/verify/CC
  * cascade) report named wall-clock slices here, and
  * [[graft.Bench]] drains the map after each query into
  * `BENCH_ATTRIBUTION.json` — so a regression in a composite query is
  * attributable to ITS stage from the bench record alone, instead of
  * needing a hand re-run with ad-hoc prints (the round-10 q113
  * adjudication gap).
  *
  * Disabled by default: production calls pay one volatile read.
  * The bench enables it for its attribution pass only. Stage forcing
  * while enabled may materialize caches that the operator would
  * otherwise populate lazily inside its final action — same total work,
  * earlier boundaries — so numbers are comparable only with timing in
  * the same state.
  */
object StageTimer {
  @volatile private var on = false
  private val acc = new ConcurrentHashMap[String, AtomicLong]()

  def enable(): Unit = { on = true }
  def disable(): Unit = { on = false }
  def enabled: Boolean = on

  /** Run `f`, attributing its wall-clock to `stage` (no-op pass-through
    * when disabled). Nested/repeated stages accumulate. */
  def time[T](stage: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally add(stage, (System.nanoTime() - t0) / 1000000L)
    }

  def add(stage: String, ms: Long): Unit =
    if (on) acc.computeIfAbsent(stage, _ => new AtomicLong).addAndGet(ms)

  /** Stage → accumulated ms since the last drain; clears the board. */
  def drain(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val out = acc.asScala.map { case (k, v) => k -> v.get }.toMap
    acc.clear()
    out
  }
}
