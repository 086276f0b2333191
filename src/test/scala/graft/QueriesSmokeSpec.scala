package graft

/** Every registered query runs at sf0.001 and (except known-sparse ones)
  * returns rows. The real correctness gate is the DuckDB oracle at sf0.01
  * (scripts/oracle_check.py); this is the fast regression net. */
class QueriesSmokeSpec extends SparkSpec {

  private val mayBeEmpty = Set("q29_minhash_dedup", "q34_ngram_jaccard",
    "q07_anti_join", "q18_string_funcs")

  Queries.all.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query filter: a token picks its own name or `<token>_*`, blank tokens are dropped, no match is loud") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def picked(tokens: String*) = SparkEntry.select(tokens).map(_._1)
    assert(names.contains("q110_kerf_sample") && names.contains("q11_window_rank"))
    assert(picked("q11", " ", "") == Seq("q11_window_rank"))
    assert(picked("q110_kerf_sample", "q11_window_rank") ==
      Seq("q110_kerf_sample", "q11_window_rank"))
    assert(picked() == names && picked("", " ") == names)
    intercept[IllegalArgumentException](picked("q11_win"))
    intercept[IllegalArgumentException](picked("q999"))
  }

  test("stage slices are recorded with no switch set: q124 append/compact, q29 verify") {
    graft.tools.StageTimer.drain()
    Queries.all("q124_folio_compact")(spark, sf).count()
    val folio = graft.tools.StageTimer.drain()
    assert(Set("append", "compact").subsetOf(folio.keySet), folio)
    Queries.all("q29_minhash_dedup")(spark, sf).count()
    val dedup = graft.tools.StageTimer.drain()
    assert(dedup.contains("verify"), dedup)
  }

  test("bench pass count: 3 by default, a non-integer or a value below 1 is refused by name") {
    assert(Bench.passCount(None) == 3)
    assert(Bench.passCount(Some(" 4 ")) == 4)
    Seq("", "two", "2.5", "0", "-1").foreach { v =>
      val e = intercept[IllegalArgumentException](Bench.passCount(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES"), v)
    }
  }

  test("every oracle key has a query") {
    assert(Oracles.all.keySet.subsetOf(Queries.all.keySet))
  }
}
