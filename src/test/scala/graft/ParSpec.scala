package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ops.Par

/** `Par`: branches keep the caller's job properties, the first failure
  * cancels the other branches (jobs running, jobs not yet submitted, and
  * a task's thread), and exactly that failure reaches the caller. */
class ParSpec extends SparkSpec {

  private def drain(): Unit =
    org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)

  test("a branch sees the caller's current job group (as a tag), job tags and description on a reused pool thread") {
    val sc = spark.sparkContext
    def seen() = (Thread.currentThread.getId, sc.getLocalProperty("spark.jobGroup.id"),
      sc.getJobTags(), sc.getLocalProperty("spark.job.description"))
    try {
      sc.setJobGroup("caller_a", "desc a"); sc.addJobTag("tag_a")
      // sleeping branches, more than the pool has threads: every pool
      // thread runs at least one of them under caller a
      val first = Par.all(Seq.fill(40)(() => { Thread.sleep(30); seen() }): _*)
      sc.removeJobTag("tag_a")
      sc.setJobGroup("caller_b", "desc b"); sc.addJobTag("tag_b")
      val (tid, group, tags, desc) = Par.all(() => seen()).head
      assert(first.map(_._1).contains(tid), "the branch must reuse a pool thread")
      assert(first.forall(_._3 == Set("caller_a", "tag_a")))
      assert(tags == Set("caller_b", "tag_b"), s"tags: $tags")
      assert(desc == "desc b")
      assert(group.startsWith("graft-par-") && group != first.head._2)
    } finally { sc.clearJobGroup(); sc.clearJobTags() }
  }

  test("the first failure cancels the other branches: no job runs on or starts later, a sleeping task is interrupted") {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[java.lang.Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.time)
    }
    ParSpec.sleeperStarted.set(0); ParSpec.sleeperEnded.set(0)
    val loops = new AtomicLong
    var failedAt = 0L
    val boom = new IllegalStateException("boom")
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException](Par.all(
        () => {
          // fail once the sleeper runs and the loop is mid-stream
          val deadline = System.nanoTime() + 10e9.toLong
          while ((ParSpec.sleeperStarted.get == 0 || loops.get < 3) &&
                 System.nanoTime() < deadline) Thread.sleep(10)
          failedAt = System.currentTimeMillis()
          throw boom
        },
        () => {
          val deadline = System.nanoTime() + 20e9.toLong
          while (System.nanoTime() < deadline) {
            sc.parallelize(1 to 4, 2).count(); loops.incrementAndGet()
          }
        },
        () => sc.parallelize(Seq(1), 1).foreach { _ =>
          ParSpec.sleeperStarted.set(System.nanoTime())
          try Thread.sleep(30000) finally ParSpec.sleeperEnded.set(System.nanoTime())
        }))
      val returnedAt = System.currentTimeMillis()
      assert(e eq boom)
      assert(loops.get >= 3, "the loop never got going: the test is vacuous")
      Thread.sleep(300); drain()
      assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job outlived Par")
      // the one loop job whose submission raced the cancel may start;
      // after that, nothing
      assert(starts.toArray.count(_.asInstanceOf[Long] > failedAt) <= 1,
        s"jobs started after the failure: ${starts.toArray.count(_.asInstanceOf[Long] > failedAt)}")
      assert(!starts.toArray.exists(_.asInstanceOf[Long] > returnedAt))
      val deadline = System.nanoTime() + 10e9.toLong
      while (ParSpec.sleeperEnded.get == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      val slept = (ParSpec.sleeperEnded.get - ParSpec.sleeperStarted.get) / 1e9
      assert(ParSpec.sleeperEnded.get != 0 && slept < 15, s"sleeper ran ${slept}s")
    } finally sc.removeSparkListener(listener)
  }

  test("exactly one error reaches the caller: the failing branch's, with the cancelled sibling's suppressed") {
    val sc = spark.sparkContext
    val boom = new IllegalArgumentException("boom")
    val e = intercept[IllegalArgumentException](Par.all(
      () => { Thread.sleep(300); throw boom },
      () => sc.parallelize(1 to 4, 4).map { x => Thread.sleep(20000); x }.count()))
    assert(e eq boom)
    assert(e.getSuppressed.length == 1 &&
      e.getSuppressed.head.isInstanceOf[org.apache.spark.SparkException],
      e.getSuppressed.toSeq)
  }

  test("`all` returns results in branch order; `both` returns a typed pair") {
    val got = Par.all(Seq(300, 0, 150).map(ms => () => { Thread.sleep(ms); ms }): _*)
    assert(got == Seq(300, 0, 150))
    val (n, s): (Long, String) = Par.both(spark.range(7).count(), "x" * 3)
    assert(n == 7L && s == "xxx")
  }
}

object ParSpec {
  // set from inside a task (one JVM in local mode), so static
  val sleeperStarted = new AtomicLong
  val sleeperEnded = new AtomicLong
}
