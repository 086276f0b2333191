package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = scala.util.Try(ok).getOrElse(false)
    if (!pass) failed += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val tmp = "/nonexistent"
    def sequence(w: Workload, seed: Long) =
      (0 until 32).map(r => w.round(seed, r).map(_.name))
    val workloads = Workloads.names.map(Workloads(_, 1L, tmp, tmp, Workloads.Expectations(Map.empty, 0L)))

    workloads.foreach { w =>
      check(s"${w.name}: the same seed gives the same sequence")(
        sequence(w, 42L) == sequence(w, 42L))
      check(s"${w.name}: another seed gives another sequence")(
        sequence(w, 42L) != sequence(w, 43L))
      check(s"${w.name}: every round holds every request type equally often") {
        val rounds = sequence(w, 7L).map(_.groupBy(identity).map { case (k, v) => k -> v.size })
        rounds.forall(_ == rounds.head)
      }
    }
    check("ingest: batch slices and corrections follow the seed") {
      Gen.permutation(5L, 7L, 1000).toSeq == Gen.permutation(5L, 7L, 1000).toSeq &&
        Gen.permutation(5L, 7L, 1000).toSeq != Gen.permutation(6L, 7L, 1000).toSeq &&
        Gen.permutation(5L, 7L, 1000).sorted.toSeq == (0 until 1000)
    }

    val rows = Seq(Row(1L, "a", 1.5), Row(2L, "b", 2.25), Row(3L, "c", 0.1 + 0.2))
    val cell = rows.updated(1, Row(2L, "b", 2.2500000000000004))
    val swapped = Seq(rows(1), rows(0), rows(2))
    for (ordered <- Seq(true, false))
      check(s"digest (ordered=$ordered) catches a one-cell change")(
        Digest.of(rows, ordered) != Digest.of(cell, ordered))
    check("ordered digest catches a reordering")(Digest.of(rows, true) != Digest.of(swapped, true))
    check("unordered digest ignores a reordering")(Digest.of(rows, false) == Digest.of(swapped, false))
    check("digest catches a dropped row")(Digest.of(rows, false) != Digest.of(rows.take(2), false))
    check("digest tells 0.0 from -0.0")(Digest.of(Seq(Row(0.0)), false) != Digest.of(Seq(Row(-0.0)), false))

    check("self times add up to the request wall time") {
      import Attribution.Interval
      val parts = Attribution.split(0, 100, Seq(
        Interval(10, 40, "exec", 1), Interval(30, 50, "codegen", 2),
        Interval(5, 95, "query", 4), Interval(60, 90, "driver", 5), Interval(-5, 3, "exec", 1)))
      math.abs(parts.values.sum - 100) < 1e-9 && parts("exec") == 33 &&
        parts("codegen") == 10 && parts("unattributed") == 7 && parts("query") == 50
    }

    println(s"${if (failed == 0) "ok" else s"$failed FAILED"}")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
