package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** Structured concurrency for independent Spark jobs: the one place that
  * decides how branches (disjoint writes, independent trainings, remote
  * calls) run at the same time, so a later branch's tasks back-fill an
  * earlier branch's job tail instead of paying one job latency each.
  *
  *  - A branch runs with the calling thread's active Spark session and
  *    local properties (job tags, description, SQL execution), captured
  *    when it is submitted, and
  *    under a job group of its own with interrupt-on-cancel. The caller's
  *    job group rides along as a job tag, so branch jobs stay attributable
  *    to the caller.
  *  - The first branch to fail cancels the other branches' groups,
  *    including jobs they have not submitted yet; a branch that has not
  *    started by then is skipped.
  *  - A call returns only after every branch has ended, and throws at
  *    most one error: the first failure, with later ones suppressed on it.
  *
  * Branches run on one bounded pool of daemon threads, so a branch must
  * not itself wait on another `Par` call. */
object Par {

  // branches mostly wait (for a job to complete, on a socket); Spark's
  // scheduler, not this pool, decides how many tasks run at once
  private val pool = Executors.newFixedThreadPool(16, { (r: Runnable) =>
    val t = new Thread(r, "graft-par"); t.setDaemon(true); t })

  /** Run `branches` concurrently; their results in branch order. */
  def all[T](branches: (() => T)*): Seq[T] = {
    val spark = SparkSession.active.asInstanceOf[classic.SparkSession]
    val sc = spark.sparkContext
    // job tags may not be empty or hold a comma
    val callerTag = Option(sc.getLocalProperty("spark.jobGroup.id"))
      .filter(_.nonEmpty).map(_.replace(',', '_'))
    val groups = branches.map(_ => s"graft-par-${java.util.UUID.randomUUID()}")
    val errors = new ConcurrentLinkedQueue[Throwable]
    val results = branches.zip(groups).map { case (branch, group) =>
      SQLExecution.withThreadLocalCaptured(spark, pool) {
        try {
          sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
            interruptOnCancel = true)
          callerTag.foreach(sc.addJobTag)
          if (errors.isEmpty) Some(branch()) else None
        } catch { case e: Throwable =>
          errors.add(e)
          if (errors.peek() eq e) groups.filter(_ != group).foreach(
            sc.cancelJobGroupAndFutureJobs(_, s"a sibling branch failed: $e"))
          None
        }
      }
    }.map(_.join())
    Option(errors.poll()).foreach { first =>
      errors.forEach(first.addSuppressed(_)); throw first
    }
    results.map(_.get)
  }

  /** Run two branches of different types concurrently. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](() => a, () => b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
