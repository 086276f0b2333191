package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-query stage attribution: multi-stage operators (persisted-index
  * build vs probe, the dedup verify/CC cascade, folio append vs compact)
  * report named wall-clock slices here, and [[graft.Bench]] drains the
  * map after each query into its per-query record, so a regression in a
  * composite query is attributable to its stage from the bench record
  * alone. A slice only times what the operator runs anyway: it forces no
  * action, so the timed plan is the production plan.
  */
object StageTimer {
  private val acc = new ConcurrentHashMap[String, AtomicLong]()

  /** Run `f`, attributing its wall-clock to `stage`. Nested/repeated
    * stages accumulate. */
  def time[T](stage: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally acc.computeIfAbsent(stage, _ => new AtomicLong)
      .addAndGet((System.nanoTime() - t0) / 1000000L)
  }

  /** Stage → accumulated ms since the last drain; clears the board. */
  def drain(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val out = acc.asScala.map { case (k, v) => k -> v.get }.toMap
    acc.clear()
    out
  }
}
