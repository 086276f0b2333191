package graft

import org.apache.spark.sql.functions._
import graft.sql.KerfSql

/** The textual surface the reference parses but never evaluates
  * (/root/reference/parser.h:541–567) — here it runs. */
class KerfSqlSpec extends SparkSpec {

  private lazy val init: Unit = {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
  }

  test("select with where/group/order/limit lowers to DataFrame ops") {
    init
    val got = KerfSql.run(spark,
      "select l_returnflag, sum(l_quantity) as sq, count(*) as n " +
      "from lineitem_v where l_discount >= 0.05 group l_returnflag order l_returnflag")
    val want = Tables.lineitem(spark, sf)
      .filter(col("l_discount") >= 0.05)
      .groupBy(col("l_returnflag"))
      .agg(sum("l_quantity").as("sq"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("group rollup/cube lower to Dataset.rollup/cube") {
    init
    val gotR = KerfSql.run(spark,
      "select l_returnflag, l_linestatus, sum(l_quantity) as sq " +
      "from lineitem_v group rollup (l_returnflag, l_linestatus) " +
      "order l_returnflag, l_linestatus")
    val wantR = Tables.lineitem(spark, sf)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sq"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    assert(gotR.collect().toSeq == wantR.collect().toSeq)
    val gotC = KerfSql.run(spark,
      "select l_returnflag, l_linestatus, count(*) as n " +
      "from lineitem_v group cube (l_returnflag, l_linestatus) " +
      "order l_returnflag, l_linestatus")
    // cube adds the (null, status) slices rollup lacks
    assert(gotC.count() > gotR.count())
  }

  test("group sets lowers to Dataset.groupingSets (dialect == direct API)") {
    init
    val got = KerfSql.run(spark,
      "select l_returnflag, l_linestatus, sum(l_quantity) as sq, count(*) as n " +
      "from lineitem_v " +
      "group sets ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
      "order l_returnflag, l_linestatus")
    val want = Tables.lineitem(spark, sf)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sq"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    assert(got.collect().toSeq == want.collect().toSeq)
    // rollup (a, b) IS sets ((a,b),(a),()) — the shorthand equivalence
    val wantR = KerfSql.run(spark,
      "select l_returnflag, l_linestatus, sum(l_quantity) as sq, count(*) as n " +
      "from lineitem_v group rollup (l_returnflag, l_linestatus) " +
      "order l_returnflag, l_linestatus")
    assert(got.collect().toSeq == wantR.collect().toSeq)
  }

  test("group rollup/cube rejects window verbs (no silent PARTITION BY downgrade)") {
    init
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select sums(l_quantity) as s from lineitem_v " +
        "group cube (l_returnflag, l_linestatus) order l_orderkey")
    }
    assert(e.getMessage.contains("group cube"), e.getMessage)
  }

  test("pctl(x, p) is the exact interpolated percentile") {
    init
    val got = KerfSql.run(spark,
      "select l_returnflag, pctl(l_quantity, 0.5) as med, count(*) as n " +
      "from lineitem_v group l_returnflag order l_returnflag")
    val want = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("med"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("matrix-valued variables rebind as nested arrays") {
    // eager assignment collects a nested list; the rebind must
    // re-literalize it as array<array<long>> (and widen to double)
    assert(KerfSql.run(spark,
      "m: [[1,2],[3,4]] + 10; fold(+, {[r] fold(+, r)} mapdown m)")
      .collect()(0).getLong(0) == 50L)
    assert(KerfSql.run(spark,
      "m: [[1.5,2.5],[3,4]]; fold(+, {[r] fold(+, r)} mapdown m)")
      .collect()(0).getDouble(0) == 11.0)
  }

  test("kerf temporal literal in predicate (2024.01.05 form)") {
    init
    val got = KerfSql.run(spark,
      "select count(*) as n from orders_v where o_orderdate < 1994.01.01")
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate") < lit("1994-01-01")).count()
    assert(got.collect()(0).getLong(0) == want)
  }

  test("q-style descending order: order -o_totalprice limit 3") {
    init
    val got = KerfSql.run(spark,
      "select o_orderkey, o_totalprice from orders_v order -o_totalprice, o_orderkey limit 3")
      .collect().map(_.getDouble(1)).toSeq
    val want = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(3).collect().map(_.getDouble(3)).toSeq
    assert(got == want)
  }

  test("arithmetic expressions with auto-alias") {
    init
    val df = KerfSql.run(spark,
      "select l_orderkey, l_extendedprice * (1 - l_discount) as net from lineitem_v limit 5")
    assert(df.columns.toSeq == Seq("l_orderkey", "net"))
    assert(df.count() == 5)
  }

  // --- Kerf expression language: adverb goldens through the TEXT path
  // (/root/reference/test.cc:330–346, grammar parser.h:431–507)

  private def evalOne(s: String): Any =
    KerfSql.run(spark, s).collect()(0).get(0)

  test("fold: {[x,y] x+y} fold 1 2 3 = 6 (test.cc:336)") {
    assert(evalOne("{[x,y] x+y} fold 1 2 3") == 6L)
  }
  test("seeded fold pervades: fold(+, 1 2 3, 1 2 3) = [7,8,9] (test.cc:338)") {
    assert(evalOne("fold(+, 1 2 3, 1 2 3)") == Seq(7L, 8L, 9L))
  }
  test("unfold: (+) unfold 1 2 3 = [1,3,6] (test.cc:339)") {
    assert(evalOne("(+) unfold 1 2 3") == Seq(1L, 3L, 6L))
  }
  test("seeded unfold includes the seed prefix (test.cc:341)") {
    assert(evalOne("unfold(+, [1,2,3], 1 2 3)") ==
      Seq(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), Seq(4L, 5L, 6L), Seq(7L, 8L, 9L)))
  }
  test("mapback: mapback(-, range(4), 4) = [-4,1,1,1] (test.cc:344)") {
    assert(evalOne("mapback(-, range(4), 4)") == Seq(-4L, 1L, 1L, 1L))
  }
  test("lambda mapdown til: {[x] x+1} mapdown til 10") {
    assert(evalOne("{[x] x+1} mapdown til 10") == (1L to 10L))
  }
  test("lambda direct call and nested adverb composition") {
    assert(evalOne("{[x,y] x*y}(6, 7)") == 42L)
    assert(evalOne("{[x,y] x+y} fold {[x] x*x} mapdown til 101") == 338350L)
  }
  test("lambda bodies support let-bindings over lambda vars") {
    assert(evalOne("{[x] y: x*x; y + x} mapdown til 4") == Seq(0L, 2L, 6L, 12L))
    assert(evalOne("{[a,b] s: a+b; d: a-b; s*d}(5, 3)") == 16L)
  }
  test("pervasive arithmetic goldens through text (test.cc:239–350)") {
    assert(evalOne("13 - 13 - 13 - 13") == -26L)              // left-assoc
    assert(evalOne("0 - 13 - 13 - 13 - 13") == -52L)
    assert(evalOne("1 2 3 + 50 60 70") == Seq(51L, 62L, 73L)) // list+list
    assert(evalOne("3 + 10 20") == Seq(13L, 23L))             // unit+list
    assert(evalOne("[[10,20],[110,120]] + 3") ==
      Seq(Seq(13L, 23L), Seq(113L, 123L)))                    // nested pervade
    assert(evalOne("[[13,23],[113,123]] + [[13,23],[113,123]]") ==
      Seq(Seq(26L, 46L), Seq(226L, 246L)))
    assert(evalOne("1.2 + 3.4") == (1.2 + 3.4))
    assert(evalOne("til 0") == Seq())                         // range(0) empty
  }

  test("aggregates pervade into vectors (rank polymorphism): sum(1 2 3) = 6") {
    assert(evalOne("sum(1 2 3)") == 6L)
    assert(evalOne("sum(til 101)") == 5050L)
    assert(evalOne("max([4, 9, 2])") == 9L)
    assert(evalOne("min([4, 9, 2])") == 2L)
    assert(evalOne("count(til 10)") == 10L)
    assert(evalOne("avg(2 4 6)") == 4.0)
    assert(evalOne("sum([1.5, 2.5])") == 4.0)
  }

  test("string/list verbs through text: length/upper/lower/reverse") {
    assert(evalOne("length('hello')") == 5L)
    assert(evalOne("upper('abc')") == "ABC")
    assert(evalOne("lower('AbC')") == "abc")
    assert(evalOne("reverse('abc')") == "cba")
    assert(evalOne("reverse(1 2 3)") == Seq(3L, 2L, 1L))
    assert(evalOne("reverse(til 4)[0]") == 3L)
  }

  test("operator[]: index one and index many, 0-based") {
    assert(evalOne("(til 10)[3]") == 3L)
    assert(evalOne("[10, 20, 30][1]") == 20L)
    assert(evalOne("[10, 20, 30][[0, 2]]") == Seq(10L, 30L))
    assert(evalOne("x: til 5; x[4]") == 4L)
    assert(evalOne("({[x] x*x} mapdown til 10)[[1, 2, 3]]") == Seq(1L, 4L, 9L))
  }

  test("vector literals: juxtaposed and JSON-style agree") {
    assert(evalOne("1 2 3") == Seq(1L, 2L, 3L))
    assert(evalOne("[1, 2, 3]") == Seq(1L, 2L, 3L))
    assert(evalOne("[1.5, 2]") == Seq(1.5, 2.0))
  }
  test("span literals combine and shift stamps (lexer.h:247–311)") {
    assert(evalOne("1d2h") == (26L * 3600L * 1000000000L))     // ns
    assert(evalOne("1d + 2h - 1h") == (25L * 3600L * 1000000000L))
    val shifted = evalOne("2024.01.05T00:00:00 + 1d2h")
    assert(shifted.toString.startsWith("2024-01-06 02:00:00"))
    val monthly = evalOne("2024.01.31T00:00:00 + 1m")          // calendar month
    assert(monthly.toString.startsWith("2024-02-29"))
  }
  test("backtick symbols lex as atoms") {
    assert(evalOne("`abc") == "abc")
  }
  test("span literal in a where clause (temporal algebra through text)") {
    init
    val got = KerfSql.run(spark,
      "select count(*) as n from orders_v " +
      "where o_orderdate >= 1994.01.01 and o_orderdate < 1994.01.01 + 3m")
      .collect()(0).getLong(0)
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1994-01-01") &&
              col("o_orderdate") < lit("1994-04-01")).count()
    assert(got == want)
  }
  test("boolean precedence: a and b or c groups (a and b) or c") {
    init
    val got = KerfSql.run(spark,
      "select count(*) as n from orders_v " +
      "where o_orderstatus = 'F' and o_totalprice < 1000 or o_orderstatus = 'O'")
      .collect()(0).getLong(0)
    val want = Tables.orders(spark, sf)
      .filter((col("o_orderstatus") === "F" && col("o_totalprice") < 1000) ||
              col("o_orderstatus") === "O").count()
    assert(got == want)
  }
  // --- programs: assignment, def, control flow (TOKENS_IF/DEF, parser.h:466)

  test("colon assignment is eager and rebinds as literal") {
    assert(evalOne("x: 5; x * 3") == 15L)
    assert(evalOne("v: til 5; {[x,y] x+y} fold v") == 10L)
  }
  test("def defines a named function usable in calls and adverbs") {
    assert(evalOne("def sq(x) {x*x}; sq(7)") == 49L)
    assert(evalOne("def sq(x) {x*x}; sq mapdown til 4") == Seq(0L, 1L, 4L, 9L))
    assert(evalOne("def add2(x,y) {x+y}; add2 fold 1 2 3") == 6L)
  }
  test("if/else executes one branch, bindings escape the block") {
    assert(evalOne("x: 5; if (x > 3) { y: 1 } else { y: 2 }; y") == 1L)
    assert(evalOne("x: 2; if (x > 3) { y: 1 } else { y: 2 }; y") == 2L)
  }
  test("while loops with driver-side condition") {
    assert(evalOne("i: 0; s: 0; while (i < 5) { s: s + i; i: i + 1 }; s") == 10L)
  }
  test("for: iterator form accumulates over the vector (ctrl_for, lexer.h:100)") {
    assert(evalOne("s: 0; for (i: til 5) { s: s + i }; s") == 10L)
    // a scalar count iterates 0..n-1 (the til convention)
    assert(evalOne("s: 0; for (i: 4) { s: s + i }; s") == 6L)
  }
  test("for: C-style (init; cond; step) form") {
    assert(evalOne("s: 0; for (i: 0; i < 5; i: i + 1) { s: s + i }; s") == 10L)
    // zero-trip: condition false before the first round
    assert(evalOne("s: 7; for (i: 9; i < 5; i: i + 1) { s: 0 }; s") == 7L)
  }
  test("do/while runs the body at least once (ctrl_do)") {
    assert(evalOne("i: 0; s: 0; do { s: s + i; i: i + 1 } while (i < 5); s") == 10L)
    // at-least-once even with a false condition
    assert(evalOne("s: 0; do { s: s + 1 } while (0); s") == 1L)
  }
  test("return ends the program with its value (ctrl_return)") {
    assert(evalOne("x: 2; if (x > 1) { return 42 }; 7") == 42L)
    assert(evalOne("x: 0; if (x > 1) { return 42 }; 7") == 7L)
    // return inside a loop unwinds the whole program
    assert(evalOne("s: 0; for (i: til 100) { s: s + i; if (s > 10) { return s } }; 0") == 15L)
  }
  test("def with early return compiles to a CASE chain (row-level, not driver)") {
    assert(evalOne("def cap(x) { if (x > 10) { return 10 }; x }; cap(99)") == 10L)
    assert(evalOne("def cap(x) { if (x > 10) { return 10 }; x }; cap(3)") == 3L)
    // explicit final return also accepted
    assert(evalOne("def sgn(x) { if (x > 0) { return 1 }; if (x < 0) { return 0 - 1 }; return 0 }; sgn(0 - 5)") == -1L)
    // guards stack in order: first match wins
    assert(evalOne("def tier(x) { if (x > 100) { return 3 }; if (x > 10) { return 2 }; return 1 }; tier(50)") == 2L)
  }
  test("Interp session: vars and defs persist across run() calls") {
    val sess = new KerfSql.Interp(spark)
    sess.run("x: 5")
    sess.run("def twice(n) { n * 2 }")
    assert(sess.run("twice(x) + 1").collect()(0).get(0) == 11L)
    // stateless run() stays stateless: no leakage between programs
    intercept[Exception] { KerfSql.run(spark, "x") }
  }

  test("def with early return runs per-row inside a select") {
    init
    val df = KerfSql.run(spark,
      "def cap(x) { if (x > 3) { return 3 }; x }; " +
      "select cap(o_orderkey % 6) as c from orders_v order o_orderkey limit 5")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 3L))
  }
  test("program returns the last statement's result, SQL included") {
    init
    val df = KerfSql.run(spark,
      "n: 3; select o_orderkey from orders_v order o_orderkey limit 3")
    assert(df.count() == 3)
  }
  test("group by computed expression with alias") {
    init
    val got = KerfSql.run(spark,
      "select count(*) as n, sum(o_totalprice) as total " +
      "from orders_v group o_orderkey % 3 as bucket order bucket")
    assert(got.columns.toSeq == Seq("bucket", "n", "total"))
    val want = Tables.orders(spark, sf)
      .groupBy((col("o_orderkey") % 3).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
      .orderBy("bucket")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("program variables are visible inside SQL statements") {
    init
    val df = KerfSql.run(spark,
      "n: 2; select o_orderkey from orders_v order o_orderkey limit n")
    assert(df.count() == 2)
    val got = KerfSql.run(spark,
      "thr: 100000; select count(*) as n from orders_v where o_totalprice < thr")
      .collect()(0).getLong(0)
    val want = Tables.orders(spark, sf).filter(col("o_totalprice") < 100000).count()
    assert(got == want)
  }

  test("table-valued variables: 't: select …; select … from t'") {
    init
    val got = KerfSql.run(spark,
      "big: select o_orderkey, o_totalprice from orders_v where o_totalprice > 100000; " +
      "select count(*) as n from big")
      .collect()(0).getLong(0)
    val want = Tables.orders(spark, sf).filter(col("o_totalprice") > 100000).count()
    assert(got == want)
  }

  // --- list verbs (slop.h:1140–1189) and dict literals (JSON superset)

  test("list verbs: first/last/enlist/join/find") {
    assert(evalOne("first(10 20 30)") == 10L)
    assert(evalOne("last(10 20 30)") == 30L)           // slop.h:1181
    assert(evalOne("enlist(7)") == Seq(7L))            // slop.h:1173
    assert(evalOne("join(1 2 3, 4 5)") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(evalOne("join(1 2 3, 9)") == Seq(1L, 2L, 3L, 9L)) // scalar enlists
    assert(evalOne("join('ab', 'cd')") == "abcd")      // string concatenation
    assert(evalOne("find(10 20 30, 20)") == 1L)        // 0-based index
    assert(evalOne("find(10 20 30, 99)") == 3L)        // miss → count (slop.cc:827)
    assert(evalOne("count(join(til 4, enlist(9)))") == 5L)
    // the test.cc:308 join chain: 1.join(2).join(r).join(r) on r=[10,20]
    assert(evalOne("join(join(join(1, 2), 10 20), 10 20)") ==
      Seq(1L, 2L, 10L, 20L, 10L, 20L))
  }

  test("list verbs: take/drop/distinct/ascend/descend/flip (q/k lineage)") {
    assert(evalOne("take(1 2 3, 2)") == Seq(1L, 2L))
    assert(evalOne("take(1 2 3, 5)") == Seq(1L, 2L, 3L, 1L, 2L))   // over-take cycles
    assert(evalOne("take(1 2 3, -2)") == Seq(2L, 3L))
    assert(evalOne("take(1 2 3, -5)") == Seq(2L, 3L, 1L, 2L, 3L))  // cycles from end
    assert(evalOne("take(1 2 3, 0)") == Seq())
    assert(evalOne("drop(1 2 3 4, 2)") == Seq(3L, 4L))
    assert(evalOne("drop(1 2 3 4, -1)") == Seq(1L, 2L, 3L))
    assert(evalOne("drop(1 2, 5)") == Seq())
    assert(evalOne("distinct(1 2 1 3 2)") == Seq(1L, 2L, 3L))      // first-occurrence order
    assert(evalOne("ascend(30 10 20)") == Seq(1L, 2L, 0L))         // grade-up, 0-based
    assert(evalOne("descend(30 10 20)") == Seq(0L, 2L, 1L))        // grade-down
    assert(evalOne("ascend(2 1 2 1)") == Seq(1L, 3L, 0L, 2L))      // stable on ties
    assert(evalOne("descend(2 1 2 1)") == Seq(0L, 2L, 1L, 3L))     // ties keep order
    // the grade law: x[ascend(x)] is sorted
    assert(evalOne("v: 30 10 20; v[ascend(v)]") == Seq(10L, 20L, 30L))
    assert(evalOne("flip([[1, 2], [3, 4], [5, 6]])") ==
      Seq(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)))
    assert(evalOne("count(take(til 10, 7))") == 7L)
  }

  test("bars: numeric, fixed-span, and calendar bucketing") {
    assert(evalOne("bars(10, 37)") == 30L)
    assert(evalOne("bars(10, 40)") == 40L)
    assert(evalOne("bars(2.5, 6.3)") == 5.0)
    // fixed span over an ns-long axis: 90 s into the epoch, 1-minute bars
    assert(evalOne("bars(1i, 90000000000)") == 60000000000L)
    // fixed span over a stamp: 15-minute bars
    assert(evalOne("bars(15i, 2024.01.05T12:21:07)").toString
      == "2024-01-05 12:15:00.0")
    // calendar span: quarter bars floor to the month grid
    assert(evalOne("bars(3m, 2024.05.20)").toString == "2024-04-01 00:00:00.0")
    assert(evalOne("bars(1y, 2024.05.20)").toString == "2024-01-01 00:00:00.0")
  }

  test("file verbs: t >> 'path' writes, x: << 'path' reads back (slop.h:1021,1037)") {
    init
    val dir = java.nio.file.Files.createTempDirectory("kerf_fileverb").toString + "/t1"
    val r = KerfSql.run(spark,
      s"small: select l_orderkey, l_quantity from lineitem_v where l_orderkey < 10; " +
      s"small >> '$dir'; " +
      s"back: << '$dir'; " +
      "select count(*) as n from back")
    val want = Tables.lineitem(spark, sf).filter(col("l_orderkey") < 10).count()
    assert(r.collect().head.getLong(0) == want && want > 0)
    // >>= without partition keys names the API instead of guessing
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"small: select l_orderkey from lineitem_v limit 1; small >>= '$dir'")
    }
    assert(e.getMessage.contains("partition keys"))
  }

  test("<< [sites] reads a folio of sites, incl. a remote:// socket site") {
    init
    val base = java.nio.file.Files.createTempDirectory("kerf_folio_sites").toString
    KerfSql.run(spark,
      s"even: select l_orderkey, l_quantity from lineitem_v where l_orderkey % 2 = 0; " +
      s"odd: select l_orderkey, l_quantity from lineitem_v where l_orderkey % 2 = 1; " +
      s"even >> '$base/site_a'; odd >> '$base/site_b'")
    // local+local folio
    val both = KerfSql.run(spark,
      s"f: << ['$base/site_a', '$base/site_b']; select count(*) as n from f")
    val want = Tables.lineitem(spark, sf).count()
    assert(both.collect().head.getLong(0) == want)
    // local+remote folio: site_b behind a socket
    val srv = graft.sources.RemoteTableServer.start(spark, Map("site_b" -> s"$base/site_b"))
    try {
      val fed = KerfSql.run(spark,
        s"g: << ['$base/site_a', 'remote://127.0.0.1:${srv.port}/site_b']; " +
        "select count(*) as n, sum(l_orderkey) as s from g")
      val row = fed.collect().head
      val wantSum = Tables.lineitem(spark, sf)
        .agg(sum("l_orderkey")).collect().head.getLong(0)
      assert(row.getLong(0) == want && row.getLong(1) == wantSum)
      // single remote path works too
      val solo = KerfSql.run(spark,
        s"h: << 'remote://127.0.0.1:${srv.port}/site_b'; select count(*) as n from h")
      val wantOdd = Tables.lineitem(spark, sf)
        .filter(col("l_orderkey") % 2 === 1).count()
      assert(solo.collect().head.getLong(0) == wantOdd)
    } finally srv.stop()
    // an empty site list names the problem
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "z: << []; select count(*) from z")
    }
    assert(e.getMessage.contains("at least one site"))
  }

  test("comparison goldens mirror test.cc:215-226: cross-type and list lexicographic") {
    assert(evalOne("1.2 < 1") == false)        // EXPECT_FALSE(SLOP(1.2) < SLOP(1))
    assert(evalOne("1.2 > 1") == true)
    assert(evalOne("3 == 3") == true)
    assert(evalOne("3 == 4") == false)
    assert(evalOne("3 == 3.0") == true)        // int/float cross-promote
    assert(evalOne("(1 2) < (1 3)") == true)   // lists compare lexicographically
    assert(evalOne("(1 2) > (1 3)") == false)
    assert(evalOne("(1 3) < (1 2)") == false)
    assert(evalOne("(1 3) > (1 2)") == true)
  }

  test("asc/desc sorted copies and list set ops") {
    assert(evalOne("asc(30 10 20)") == Seq(10L, 20L, 30L))
    assert(evalOne("desc(30 10 20)") == Seq(30L, 20L, 10L))
    assert(evalOne("union(1 2 3, 3 4)") == Seq(1L, 2L, 3L, 4L))
    assert(evalOne("intersect(1 2 3, 2 3 4)") == Seq(2L, 3L))
    assert(evalOne("except(1 2 3 2, 2)") == Seq(1L, 3L))
    // the law: asc(x) == x[ascend(x)]
    assert(evalOne("v: 5 1 4; asc(v)") == evalOne("v: 5 1 4; v[ascend(v)]"))
  }

  test("math verbs pervade rank-polymorphically") {
    assert(evalOne("abs(-3)") == 3L)
    assert(evalOne("sqrt(1 4 9)") == Seq(1.0, 2.0, 3.0))
    assert(evalOne("sqrt([[4, 9], [16, 25]])") == Seq(Seq(2.0, 3.0), Seq(4.0, 5.0)))
    assert(evalOne("floor(2.7)") == 2L)
    assert(evalOne("ceil(2.1)") == 3L)
    assert(evalOne("ln(exp(1))") == 1.0)
    assert(evalOne("abs([-1, 2, -3])") == Seq(1L, 2L, 3L))
    assert(evalOne("sum(sqrt(0 1 4))") == 3.0) // composes with in-row aggregates
  }

  test("first/last with a declared axis are the per-group ordered aggregates") {
    import spark.implicits._
    val ticks = Seq((1L, 10L, 5.0), (1L, 20L, 7.0), (1L, 15L, 6.0),
      (2L, 10L, 9.0), (2L, 30L, 3.0)).toDF("sym", "ts", "price")
    ticks.createOrReplaceTempView("ticks_v")
    val r = KerfSql.run(spark,
      "select first(price, ts) as open, last(price, ts) as close " +
      "from ticks_v group sym order sym").collect()
    assert(r.map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2))).toSeq ==
      Seq((1L, 5.0, 7.0), (2L, 9.0, 3.0)))
    // the 1-arg scalar form names the fix instead of guessing an order
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select last(price) as c from ticks_v group sym")
    }
    assert(e.getMessage.contains("declare the axis"))
  }

  test("map semantics mirror test.cc:383–420: amend_one, count, d[keys]") {
    // map.amend_one(0,2); map.amend_one(3,4) → keys/values grow, update wins
    assert(evalOne("amend({a: 1, b: 101}, 'a', 2)['a']") == 2L)    // update
    assert(evalOne("amend({a: 1, b: 101}, 'c', 4)['c']") == 4L)    // insert
    assert(evalOne("count(amend({a: 1, b: 101}, 'c', 4))") == 3L)  // map.count()
    assert(evalOne("keys(amend({a: 1, b: 101}, 'c', 4))") == Seq("a", "b", "c"))
    assert(evalOne("values(amend(amend({a: 1, b: 101}, 'a', 2), 'c', 4))") ==
      Seq(2L, 101L, 4L))
    // map[map.keys()] == map.values()
    assert(evalOne("d: {x: 1, y: 101}; d[keys(d)]") == Seq(1L, 101L))
    // amend on a LIST: functional update at a 0-based index
    assert(evalOne("amend(10 20 30, 1, 99)") == Seq(10L, 99L, 30L))
  }

  test("amend widens the value type instead of truncating; big dicts keep order") {
    assert(evalOne("amend({a: 1}, 'b', 2.5)['b']") == 2.5)       // map widens long→double
    assert(evalOne("amend(10 20 30, 1, 9.9)") == Seq(10.0, 9.9, 30.0)) // list widens
    // >4 entries would collapse to a HashMap via naive Map rebinding
    assert(evalOne("d: {a:1, b:2, c:3, e:4, f:5, g:6}; keys(d)") ==
      Seq("a", "b", "c", "e", "f", "g"))
    assert(evalOne("d: {a:1, b:2, c:3, e:4, f:5, g:6}; d[keys(d)]") ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("duplicate clauses are rejected, including a duplicated FINAL clause") {
    init
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select o_orderkey from orders_v where o_orderkey > 5 where o_orderkey < 3")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select o_orderkey from orders_v limit 3 limit 5")
    }
  }

  test("dict literals: index, keys/values, assignment; lambdas still lambdas") {
    assert(evalOne("{a: 1, b: 2}['b']") == 2L)
    assert(evalOne("{'a': 1.5, b: 2}['a']") == 1.5)
    assert(evalOne("keys({a: 1, b: 2})") == Seq("a", "b"))
    assert(evalOne("values({a: 1, b: 2})") == Seq(1L, 2L))
    assert(evalOne("d: {x: 3, y: 4}; d['x'] * d['y']") == 12L)
    // `{a: 1; a*2}` has a top-level `;` → zero-arg-lambda body, not a dict
    assert(evalOne("sum(values({a: 1, b: 2}) )") == 3L)
    assert(evalOne("{[x] y: x+1; y*2}(3)") == 8L)      // let-binding lambda intact
  }

  // --- as-of join surface (presented.h:409–430 through the language)

  test("asof join lowers to the native exec and matches the API path") {
    import spark.implicits._
    val trades = Seq((1L, 100L, 9.0), (1L, 200L, 11.0), (2L, 150L, 20.0))
      .toDF("sym", "t_ts", "px")
    val quotes = Seq((1L, 90L, 1.0), (1L, 180L, 2.0), (2L, 100L, 3.0))
      .toDF("sym", "q_ts", "bid")
    trades.createOrReplaceTempView("trades_k")
    quotes.createOrReplaceTempView("quotes_k")
    val got = KerfSql.run(spark,
      "select sym, t_ts, px, bid, q_ts from trades_k " +
      "asof join quotes_k on sym at t_ts, q_ts order sym, t_ts")
    val want = graft.ops.AsOf.joinNative(trades, quotes, Seq("sym"), "t_ts", "q_ts")
      .select(col("sym"), col("t_ts"), col("px"), col("bid"), col("q_ts"))
      .orderBy("sym", "t_ts")
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq ==
      Seq((1L, 100L, 1.0), (1L, 200L, 2.0), (2L, 150L, 3.0)))
    // `strict` — before, never AT: a quote exactly at the trade's ts is
    // excluded and the previous one carries instead
    Seq((1L, 100L, 5.0), (1L, 90L, 1.0)).toDF("sym", "q_ts", "bid")
      .createOrReplaceTempView("quotes_ks")
    val st = KerfSql.run(spark,
      "select sym, t_ts, bid from trades_k asof join quotes_ks " +
      "on sym at t_ts, q_ts strict order sym, t_ts").collect()
    assert(st(0).getDouble(2) == 1.0, "strict must skip the at-ts quote")
  }

  test("asof join: forward + within tolerance from text") {
    import spark.implicits._
    val orders9 = Seq((1L, 100L), (1L, 500L)).toDF("sym", "o_ts")
    val fills9 = Seq((1L, 120L, 7.0), (1L, 900L, 8.0)).toDF("sym", "f_ts", "fpx")
    orders9.createOrReplaceTempView("orders_k")
    fills9.createOrReplaceTempView("fills_k")
    val got = KerfSql.run(spark,
      "select sym, o_ts, fpx from orders_k asof join fills_k " +
      "on sym at o_ts, f_ts within 100 forward order o_ts").collect()
    assert(got(0).getDouble(2) == 7.0)   // 120 within 100 of 100
    assert(got(1).isNullAt(2))           // next fill at 900 is outside 100
  }

  test("asof within <span> on a TimestampType axis converts ns to µs (not 1000x wide)") {
    import spark.implicits._
    // the axis is physically µs; span literals are ns — without the
    // conversion the exec's tolerance is 1000x too wide and a 400s-old
    // quote silently matches `within 1s`
    val trades = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
      .toDF("sym", "t_ts")
    trades.createOrReplaceTempView("trades_tsu")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:09:59.5"), 1.0))
      .toDF("sym", "q_ts", "bid").createOrReplaceTempView("quotes_near")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:03:20"), 9.0))
      .toDF("sym", "q_ts", "bid").createOrReplaceTempView("quotes_far")
    val near = KerfSql.run(spark,
      "select sym, bid from trades_tsu asof join quotes_near " +
      "on sym at t_ts, q_ts within 1s").collect()
    assert(near(0).getDouble(1) == 1.0, "0.5s-old quote must match within 1s")
    val far = KerfSql.run(spark,
      "select sym, bid from trades_tsu asof join quotes_far " +
      "on sym at t_ts, q_ts within 1s").collect()
    assert(far(0).isNullAt(1),
      "400s-old quote matched `within 1s` — the ns tolerance reached the µs axis unconverted")
  }

  test("wavgs masks pairwise like the wavg aggregate: null values never dilute Σw") {
    import spark.implicits._
    Seq((1L, 1L, 10.0, Some(2.0)), (1L, 2L, 90.0, None: Option[Double]),
        (1L, 3L, 10.0, Some(4.0)))
      .toDF("sym", "ts", "qty", "px").createOrReplaceTempView("wavgs_t")
    val got = KerfSql.run(spark,
      "select sym, ts, wavgs(qty, px) as vw from wavgs_t group sym order ts")
      .collect().map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    // row 2's 90-weight carries a null px: it must drop from BOTH sums —
    // the running VWAP at row 3 is (10*2+10*4)/20 = 3.0, not 60/110
    assert(got == Seq(2.0, 2.0, 3.0), s"got $got")
  }

  test("uj folds same-named columns case-insensitively (one widened column, not two)") {
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "Price").createOrReplaceTempView("uj_c1")
    Seq((2L, 1.5)).toDF("k", "price").createOrReplaceTempView("uj_c2")
    val got = KerfSql.run(spark, "uj uj_c1, uj_c2")
    assert(got.columns.toSeq == Seq("k", "Price"),
      s"case variants must fold to ONE column: ${got.columns.toSeq}")
    val rows = got.orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(rows == Seq(10.0, 1.5), s"got $rows")
  }

  test("user defs shadow built-in aggregate names (the windowVerbs rule)") {
    assert(evalOne("def med(x) { x + x }; med(3)") == 6L)
    assert(evalOne("def sum(x) { 1 }; sum(9)") == 1L)
  }

  test("asof join from TEXT over sorted folios: zero exchange, zero sort") {
    // the full parted-table promise (presented.h:409–430) end-to-end: a
    // Kerf-language asof query over bucketed+sorted catalog tables plans
    // with NO re-shuffle and NO re-sort — the scans report both
    import spark.implicits._
    Seq("tr_sorted", "qt_sorted").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        rm(d)
      }
    }
    val trades = Seq((1L, 100L, 9.0), (1L, 200L, 11.0), (2L, 150L, 20.0))
      .toDF("sym", "t_ts", "px")
    val quotes = Seq((1L, 90L, 1.0), (1L, 180L, 2.0), (2L, 100L, 3.0))
      .toDF("sym", "q_ts", "bid")
    graft.io.Folio.writeSortedTable(trades, "tr_sorted", Seq("sym"), Seq("t_ts"))
    graft.io.Folio.writeSortedTable(quotes, "qt_sorted", Seq("sym"), Seq("q_ts"))
    val df = KerfSql.run(spark,
      "select sym, t_ts, px, bid from tr_sorted asof join qt_sorted on sym at t_ts, q_ts")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"text-lowered bucketed as-of should not shuffle:\n$plan")
    assert(!plan.contains("Sort "), s"text-lowered sorted-folio as-of should not re-sort:\n$plan")
    assert(df.orderBy("sym", "t_ts").collect().map(_.getDouble(3)).toSeq ==
      Seq(1.0, 2.0, 3.0))
  }

  test("lexer rejects garbage instead of dropping it") {
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select # from orders_v")
    }
  }

  test("fuzz: random token soup parses or throws cleanly — never hangs or crashes") {
    init
    val rnd = new scala.util.Random(404)
    val vocab = Array("select", "from", "where", "group", "order", "limit",
      "fold", "mapdown", "til", "o_orderkey", "orders_v", "1", "2.5", "1994.01.01",
      "1d2h", "'s'", "`sym", "+", "-", "*", "/", "(", ")", "[", "]", "{", "}",
      ",", ";", ":", "=", "<", ">", "and", "or", "as", "asof", "join", "on", "at",
      "first", "last", "enlist", "find", "keys", "amend", "x", "def", "if", "while",
      // round-5 surfaces: window verbs, plain-join variants, merge heads
      "sums", "deltas", "prev", "counts", "left", "semi", "anti",
      "insert", "upsert", "into", "values", "key",
      // round-6 surfaces: rollup/cube grouping, percentile, adverb calls
      "rollup", "cube", "pctl", "mapright", "mapleft", "0.5",
      // round-7 surfaces: q/k list tier, bars, math verbs, file read,
      // dedup verbs (>> is deliberately absent — a lucky soup would
      // write parquet into the cwd)
      "take", "drop", "distinct", "ascend", "descend", "flip", "bars",
      "sqrt", "abs", "floor", "ceil", "<<", "by", "dedup", "neardup", "15i",
      "sample", "shard", "at", "into", "'29'",
      // round-8 surfaces: the cap pipeline verb + keep-best clause
      "cap", "keep", "best")
    var parsed = 0
    for (_ <- 1 to 300) {
      val n = 1 + rnd.nextInt(12)
      val prog = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      try { KerfSql.run(spark, prog); parsed += 1 }
      catch {
        case _: IllegalArgumentException | _: org.apache.spark.sql.AnalysisException |
             _: java.util.NoSuchElementException | _: UnsupportedOperationException |
             _: org.apache.spark.SparkException =>
        // rejected inputs must throw a DECLARED error type: a MatchError
        // escaping here is a non-exhaustive parser match — a real bug this
        // fuzz exists to catch, so it fails the test
      }
    }
    assert(parsed >= 0) // reaching here at all is the property
  }

  test("mutations assign like selects: u: update …; m: insert/upsert into …") {
    // r18 (found by the mutation-fuzz ask): the reference treats amend
    // results as values; only delete had the assignable form before.
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
      .createOrReplaceTempView("mutv_t")
    val got = KerfSql.run(spark,
      "u_mv: update mutv_t set v = 0 where k == 2; " +
      "i_mv: insert into u_mv values (4, 40.0); " +
      "p_mv: upsert into i_mv key k values (1, 11.0); " +
      "select k, v from p_mv order k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 11.0), (2L, 0.0), (3L, 30.0), (4L, 40.0)), got.toString)
  }

  test("update … set … where lowers to TableOps.update") {
    init
    val got = KerfSql.run(spark,
      "update orders_v set o_totalprice = 0 where o_orderstatus = 'F'")
    assert(got.filter(col("o_orderstatus") === "F")
      .agg(sum("o_totalprice")).collect()(0).getDouble(0) == 0.0)
    assert(got.count() == Tables.orders(spark, sf).count())
  }

  test("delete from … where") {
    init
    val got = KerfSql.run(spark, "delete from orders_v where o_totalprice > 0")
    assert(got.count() == Tables.orders(spark, sf).filter(col("o_totalprice") <= 0).count())
  }

  test("calendar spans are first-class values, not NPEs") {
    assert(evalOne("1y").toString.nonEmpty)            // renders as an interval
    assert(evalOne("1y2m + 1m").toString.nonEmpty)     // span+span combines
    val d = KerfSql.run(spark, "select 2024.01.31T00:00:00 + 1m as t from orders_v limit 1")
    assert(d.collect()(0).getTimestamp(0).toString.startsWith("2024-02-29"))
  }

  test("insert values handles negative numbers and NULL") {
    import spark.implicits._
    Seq((1L, "a", 10.0)).toDF("k", "s", "v").createOrReplaceTempView("ins_t")
    val got = KerfSql.run(spark, "insert into ins_t values (-2, null, -3.5)")
      .orderBy("k").collect()
    assert(got(0).getLong(0) == -2L && got(0).isNullAt(1) && got(0).getDouble(2) == -3.5)
  }

  test("empty lambda body is a parse error, not an internal crash") {
    intercept[IllegalArgumentException] { KerfSql.run(spark, "{[x] } mapdown til 3") }
  }

  test("window table verbs: sums/counts/maxs/deltas/prev down the rows") {
    import spark.implicits._
    Seq(
      ("a", 1L, 10L), ("a", 2L, 5L), ("a", 3L, 20L),
      ("b", 1L, 7L)
    ).toDF("k", "seq", "v").createOrReplaceTempView("wv_v")
    val got = KerfSql.run(spark,
      "select k, seq, sums(v) as cum, counts(v) as n, maxs(v) as mx, " +
      "deltas(v) as d, prev(v) as pv from wv_v group k order seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) null else r.getLong(5),
        if (r.isNullAt(6)) null else r.getLong(6))).toSeq
    assert(got == Seq(
      ("a", 1L, 10L, 1L, 10L, null, null),
      ("a", 2L, 15L, 2L, 10L, -5L, 10L),
      ("a", 3L, 35L, 3L, 20L, 15L, 5L),
      ("b", 1L, 7L, 1L, 7L, null, null)))
  }

  test("deltas over a timestamp axis yields day-time intervals") {
    // ts - lag(ts) is an ANSI interval in Spark; the dialect's typed env
    // must declare what the engine produces (round-5 ADVICE item)
    import spark.implicits._
    Seq(("a", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        ("a", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
      .toDF("k", "seq", "ts").createOrReplaceTempView("dts_v")
    val got = KerfSql.run(spark,
      "select k, seq, deltas(ts) as d from dts_v group k order seq")
    assert(got.schema("d").dataType
      .isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType])
    val d = got.orderBy("seq").collect()(1).get(2)
    assert(d == java.time.Duration.ofMinutes(10))
  }

  test("window verbs equal ops.Adverbs.scanRows / eachPriorRows") {
    init
    Tables.lineitem(spark, sf).limit(500)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .createOrReplaceTempView("li_w_v")
    val got = KerfSql.run(spark,
      "select l_orderkey, l_linenumber, sums(l_quantity) as cum " +
      "from li_w_v group l_orderkey order l_linenumber")
    val want = graft.ops.Adverbs.scanRows(spark.table("li_w_v"),
        Seq(col("l_orderkey")), Seq(col("l_linenumber")), "cum")(sum(col("l_quantity")))
      .select(col("l_orderkey"), col("l_linenumber"), col("cum"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("window verbs without an order clause are an error, not a guess") {
    import spark.implicits._
    Seq(("a", 1L)).toDF("k", "v").createOrReplaceTempView("wv2_v")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select k, sums(v) as s from wv2_v group k")
    }
    assert(e.getMessage.contains("order"))
  }

  test("window verbs + plain aggregates in one select: dialect-level error") {
    import spark.implicits._
    Seq(("a", 1L, 1L)).toDF("k", "ts", "v").createOrReplaceTempView("wv3_v")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select k, sum(v) as total, sums(v) as run from wv3_v group k order ts")
    }
    assert(e.getMessage.contains("cannot mix"), s"wrong error: ${e.getMessage}")
  }

  test("a user def named like a window verb wins over the verb") {
    import spark.implicits._
    Seq(Tuple1(1L)).toDF("v").createOrReplaceTempView("wv4_v")
    // `prev` here is the user's function, NOT the lag verb — must neither
    // demand an order clause nor compute a window
    val got = KerfSql.run(spark,
      "def prev(x) { x * 10 }; select prev(v) as p from wv4_v")
      .collect()(0).getLong(0)
    assert(got == 10L)
  }

  test("plain joins in the from clause: inner/left/semi/anti, using and a=b") {
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "s").createOrReplaceTempView("j_l")
    Seq((1L, 10.0), (1L, 20.0), (3L, 30.0)).toDF("k", "v").createOrReplaceTempView("j_r")
    // inner USING: key column deduped, 3 matched rows
    val inner = KerfSql.run(spark, "select k, s, v from j_l join j_r on k order k, v")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(inner == Seq((1L, 10.0), (1L, 20.0), (3L, 30.0)))
    // left outer keeps the unmatched row null-padded
    val left = KerfSql.run(spark, "select k, s, v from j_l left join j_r on k order k, v")
      .collect()
    assert(left.length == 4 && left.exists(r => r.getLong(0) == 2L && r.isNullAt(2)))
    // semi/anti are existence filters
    assert(KerfSql.run(spark, "select k from j_l semi join j_r on k").count() == 2)
    assert(KerfSql.run(spark, "select k from j_l anti join j_r on k")
      .collect()(0).getLong(0) == 2L)
    // named sides: a = b with differing column names
    Seq((1L, "m")).toDF("lk", "tag").createOrReplaceTempView("j_l2")
    val named = KerfSql.run(spark,
      "select tag, v from j_l2 join j_r on lk = k order v")
      .collect().map(_.getDouble(1)).toSeq
    assert(named == Seq(10.0, 20.0))
    // mixing `k` and `a = b` key styles is rejected
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select * from j_l join j_r on k, lk = k")
    }
    assert(e.getMessage.contains("not mixed"))
  }

  test("window verbs compose over a joined from clause") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("uid", "tag").createOrReplaceTempView("jw_dim")
    Seq((1L, 10L, 5L), (1L, 20L, 7L), (2L, 15L, 3L))
      .toDF("uid", "ts", "v").createOrReplaceTempView("jw_facts")
    val got = KerfSql.run(spark,
      "select uid, tag, ts, sums(v) as cum " +
      "from jw_facts join jw_dim on uid group uid order ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a", 5L), (1L, "a", 12L), (2L, "b", 3L)))
  }

  test("insert/upsert into … select: query-sourced merges, name-aligned") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").createOrReplaceTempView("m_t")
    Seq(("B", 2L), ("c", 3L)).toDF("s", "k").createOrReplaceTempView("m_src")
    // insert-from-select: columns align by NAME even in a different order
    val ins = KerfSql.run(spark, "insert into m_t select s, k from m_src")
    assert(ins.count() == 4)
    // upsert-from-select: key 2 replaced, key 3 appended
    val ups = KerfSql.run(spark, "upsert into m_t key k select s, k from m_src")
    assert(ups.count() == 3)
    assert(ups.filter(col("k") === 2L).collect()(0).getString(
      ups.columns.indexOf("s")) == "B")
    // mismatched columns are an error, not a silent null fill
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "insert into m_t select k from m_src")
    }
    assert(e.getMessage.contains("do not match"))
  }

  test("dedup verb == Dedup.exact column form (same tree, text front-end)") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    val got = KerfSql.run(spark,
      "dedup docs_kv by doc_id on text order text_key")
    val want = graft.llm.Dedup.exact(Tables.documents(spark, sf), "doc_id", "text")
      .orderBy("text_key")
    assert(got.columns.toSeq == Seq("text_key", "keep_id", "group_size"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("neardup verb == Dedup.minhashPairs, `within` sets the Jaccard threshold") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    val got = KerfSql.run(spark,
      "neardup docs_kv by doc_id on text within 0.2 order id_a, id_b")
    val want = graft.llm.Dedup.minhashPairs(
        Tables.documents(spark, sf), "doc_id", "text", jaccardThreshold = 0.2)
      .orderBy("id_a", "id_b")
    assert(got.collect().toSeq == want.collect().toSeq)
    // default threshold (0.7) is stricter: the pair set can only shrink
    val strict = KerfSql.run(spark, "neardup docs_kv by doc_id on text")
    assert(strict.count() <= got.count())
  }

  test("neardup … keep best == Dedup.keepBestPerCluster (quality-aware witness)") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    val got = KerfSql.run(spark,
      "neardup docs_kv by doc_id on text within 0.2 keep best n_chars order doc_id")
    val want = graft.llm.Dedup.keepBestPerCluster(
        Tables.documents(spark, sf), "doc_id", "n_chars",
        graft.llm.Dedup.minhashPairs(
          Tables.documents(spark, sf), "doc_id", "text", jaccardThreshold = 0.2))
      .orderBy("doc_id")
    assert(got.columns.contains("cluster") && got.columns.contains("n_members"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("semdedup verb: planted replicas are the exact victim set; keep returns survivors") {
    val base = Tables.embeddings(spark, sf)
    val planted = base.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    base.unionByName(planted).createOrReplaceTempView("emb_kv")
    // closed-form golden (not an API-parity pin): organic cosine ≲ 0.48
    // at this sf (probed), so at τ=0.95 victims are exactly the replicas
    val got = KerfSql.run(spark,
        "semdedup emb_kv by vec_id on embedding within 0.95 clusters 8 order dropped_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val wantIds = base.filter(col("vec_id") % 20 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == wantIds.map(id => (id + 10000000L, id, 1.0)))
    val kept = KerfSql.run(spark, "semdedup emb_kv by vec_id on embedding keep")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == base.select("vec_id").collect().map(_.getLong(0)).toSet)
    // keep best <score>: replicas score HIGHER than originals (vec_id is
    // the score), so the quality-aware election keeps the replica and
    // drops its original — the opposite of min-id pruning
    val bestKept = KerfSql.run(spark,
        "semdedup emb_kv by vec_id on embedding keep best vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseIds = base.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = baseIds.filterNot(_ % 20 == 0) ++
      baseIds.filter(_ % 20 == 0).map(_ + 10000000L)
    assert(bestKept == expected)
    intercept[Exception] { KerfSql.run(spark, "semdedup emb_kv on embedding") }
    intercept[Exception] {
      KerfSql.run(spark, "semdedup emb_kv by vec_id on embedding clusters -3")
    }
  }

  test("compact file verb folds a fed folio and assigns like a select") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_compact").toString
    val ev = Tables.events(spark, sf).drop("ts")
    (0 until 3).foreach { b =>
      graft.io.Folio.appendPartition(ev.filter(col("event_id") % 3 === b),
        s"$dir/f", Seq("event_type"), Seq("ts_ns"))
    }
    assert(graft.io.Folio.dataFileCount(s"$dir/f") >= 15)
    val got = KerfSql.run(spark,
      s"t: compact '$dir/f' by event_type sort ts_ns; " +
      "select event_type, count(*) as n from t group event_type order event_type")
    val want = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type")
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(graft.io.Folio.dataFileCount(s"$dir/f") == 5)
    assert(graft.io.Folio.currentVersion(s"$dir/f").contains("v00000001"))
    // zorder form parses, runs, bumps the version
    KerfSql.run(spark, s"compact '$dir/f' zorder user_id, value into 2")
    assert(graft.io.Folio.currentVersion(s"$dir/f").contains("v00000002"))
    assert(graft.io.Folio.dataFileCount(s"$dir/f") <= 2)
    // sort and zorder are alternative clusterings — both is an error
    intercept[Exception] {
      KerfSql.run(spark, s"compact '$dir/f' sort ts_ns zorder value")
    }
    intercept[Exception] { KerfSql.run(spark, "compact unquoted_path") }
    // TIME TRAVEL from the text surface: v1 (the first compaction's
    // layout) is retained as the crash fallback and stays queryable
    val pre = KerfSql.run(spark,
      s"old: << '$dir/f' version 'v00000001'; " +
      "select count(*) as n from old")
    assert(pre.collect()(0).getLong(0) == ev.count())
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"x: << '$dir/f' version 'v09999999'")
    }
  }

  test("chunk verb == TextOps.chunk (text front-end, same trees)") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    val got = KerfSql.run(spark,
      "c: chunk docs_kv by doc_id on text size 64 overlap 16; " +
      "select count(*) as n, sum(n_tokens) as toks from c")
    val want = graft.llm.TextOps.chunk(
        Tables.documents(spark, sf), "doc_id", "text", 64, 16)
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("toks"))
    assert(got.collect().toSeq == want.collect().toSeq)
    intercept[Exception] {
      KerfSql.run(spark, "chunk docs_kv by doc_id on text size 4 overlap 4")
    }
    intercept[Exception] { KerfSql.run(spark, "chunk docs_kv by doc_id on text") }
  }

  test("nested-document surface: fromjson lowering + dotted field paths == API") {
    import spark.implicits._
    Seq((1L, """{"k": 3, "m": {"device": "ios", "v": 2}}""", "a"),
        (2L, """{"k": 7, "m": {"device": "web", "v": 5}}""", "a"),
        (3L, """{"k": 4}""", "b"))
      .toDF("id", "props", "grp").createOrReplaceTempView("docs_nested")
    val ddl = "k int, m struct<device: string, v: int>"
    // fromjson + immediate postfix path on the computed struct
    val got1 = KerfSql.run(spark,
      s"select id, fromjson(props, '$ddl').m.device as dev, " +
      s"fromjson(props, '$ddl').k as k from docs_nested order id")
    val want1 = spark.table("docs_nested")
      .withColumn("pj", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL(ddl)))
      .select(col("id"), col("pj.m.device").as("dev"), col("pj.k").as("k"))
      .orderBy("id")
    assert(got1.collect().toSeq == want1.collect().toSeq)
    // dotted-ident paths over a stored struct column: filter, group on a
    // NESTED field, aggregate another; alias-qualified (t.pj.k) resolves
    val got2 = KerfSql.run(spark,
      s"t: select id, grp, fromjson(props, '$ddl') as pj from docs_nested; " +
      "select dev, count(*) as n, sum(t.pj.k) as sk " +
      "from t where pj.k > 2 group pj.m.device as dev order dev")
    val want2 = want1
      .withColumn("dev2", col("dev"))
      .filter(col("k") > 2)
      .groupBy(col("dev").as("dev"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))
      .orderBy(col("dev").asc_nulls_first)
    assert(got2.collect().toSeq == want2.collect().toSeq)
    // missing JSON branch → typed nulls (doc-store lookup miss), and an
    // unknown STRUCT field is a loud plan-time error, not a null
    val got3 = KerfSql.run(spark,
      s"select count(fromjson(props, '$ddl').m.v) as nv from docs_nested")
      .collect().head.getLong(0)
    assert(got3 == 2) // id=3 has no m → null v
    // a typo'd table prefix must NOT silently resolve through the skip
    intercept[Exception] {
      KerfSql.run(spark,
        s"u: select id, fromjson(props, '$ddl') as pj from docs_nested; " +
        "select nope.pj.k as k from u order k").collect()
    }
    val err = intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"select fromjson(props, '$ddl').nope from docs_nested")
    }
    assert(err.getMessage.contains("no field 'nope'"))
    // egress: tojson round-trips the struct (field order = DDL order)
    val rt = KerfSql.run(spark,
      s"select id, tojson(fromjson(props, 'k int')) as j from docs_nested order id")
      .collect().map(_.getString(1)).toSeq
    assert(rt == Seq("""{"k":3}""", """{"k":7}""", """{"k":4}"""))
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select tojson(id) from docs_nested")
    }
  }

  test("neardup edit metric: blocked Levenshtein pairs from the text surface") {
    import spark.implicits._
    Seq((1L, "the quick brown fox"), (2L, "the quick brawn fox"),
        (3L, "unrelated content entirely"))
      .toDF("doc_id", "title").createOrReplaceTempView("fuzzy_t")
    val got = KerfSql.run(spark,
      "neardup fuzzy_t by doc_id on title edit 2 order id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 2L, 1)))
    // keep best composes with the edit metric (same witness election)
    Seq((1L, "the quick brown fox", 10L), (2L, "the quick brawn fox", 99L))
      .toDF("doc_id", "title", "quality").createOrReplaceTempView("fuzzy_q")
    val kept = KerfSql.run(spark,
      "neardup fuzzy_q by doc_id on title edit 2 keep best quality")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L)) // higher quality wins the cluster
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "neardup fuzzy_t by doc_id on title edit 2 within 0.5")
    }
  }

  test("ranks window verb == row_number over the (group, order) axes") {
    init
    val got = KerfSql.run(spark,
      "select o_custkey, o_orderkey, ranks(o_orderdate) as rk from orders_v " +
      "group o_custkey order o_orderdate, o_orderkey")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val want = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rk"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .select("o_custkey", "o_orderkey", "rk")
    assert(got.select("o_custkey", "o_orderkey", "rk").collect().toSeq ==
           want.collect().toSeq)
  }

  test("vacuum verb: crash leftovers removed, live+fallback retained") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_vac").toString
    val t = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    graft.io.Folio.appendWithPromotion(t, s"$dir/f")                    // v1
    graft.io.Folio.upsertPublish(Seq((1L, 9.0)).toDF("k", "v"), s"$dir/f", Seq("k")) // v2
    // plant crash leftovers: a superseded-era version + a stale tmp
    // (dirs NEWER than _CURRENT are in-flight staging and must survive —
    // FolioSpec pins that side)
    new java.io.File(s"$dir/f/v00000000").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/f/_CURRENT.tmp"), "junk".getBytes("UTF-8"))
    // age the tmp past the in-flight grace window (a YOUNG tmp may be a
    // publish's write-then-move in progress and is protected)
    new java.io.File(s"$dir/f/_CURRENT.tmp")
      .setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
    val removed = KerfSql.run(spark, s"vacuum '$dir/f'")
      .collect().map(_.getString(0)).toSeq
    assert(removed == Seq("_CURRENT.tmp", "v00000000"), s"got $removed")
    assert(graft.io.Folio.versions(s"$dir/f") == Seq("v00000001", "v00000002"))
  }

  test("census verb closes the lmscore train/deploy loop in the dialect") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_census")
    val viaVerb = KerfSql.run(spark,
      "m: census docs_census by doc_id on text; " +
      "lmscore docs_census by doc_id on text using m")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    val self = KerfSql.run(spark, "lmscore docs_census by doc_id on text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(viaVerb == self, "census-then-score diverged from self-census form")
    val census = KerfSql.run(spark, "census docs_census by doc_id on text")
    assert(census.columns.toSeq == Seq("tok", "cnt") && census.count() > 0)
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "census docs_census by doc_id on text extra")
    }
  }

  test("neardup frames metric: video near-dup from the text surface") {
    import spark.implicits._
    def gif(patterns: Seq[Int]): Array[Byte] = graft.llm.Multimodal.synthGif(patterns)
    Seq((1L, gif(Seq(10, 20))), (2L, gif(Seq(10, 20, 30))), (3L, gif(Seq(50))))
      .toDF("doc_id", "vid").createOrReplaceTempView("vids_t")
    val got = KerfSql.run(spark,
      "neardup vids_t by doc_id on vid frames within 0.5 order id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
    // default τ=0.9 drops the padded pair
    assert(KerfSql.run(spark,
      "neardup vids_t by doc_id on vid frames").count() == 0)
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "neardup vids_t by doc_id on vid frames edit 2")
    }
  }

  test("neardup envelope metric: audio near-dup from the text surface") {
    import spark.implicits._
    def wav(seed: Long, scale: Double, w: Int = 4): Array[Byte] =
      graft.llm.Multimodal.synthWav(seed, scale, w)
    Seq((1L, wav(7L, 0.9)), (2L, wav(7L, 0.3)), (3L, wav(7L, 0.9, w = 6)),
        (4L, wav(99L, 0.9)))
      .toDF("doc_id", "wav").createOrReplaceTempView("clips_t")
    // default τ=0.9: only the gain-rescaled exact copy pairs
    val tight = KerfSql.run(spark,
      "neardup clips_t by doc_id on wav envelope order id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight == Seq((1L, 2L)))
    // loose τ picks up the padded copy at its true 4/6 Jaccard
    val loose = KerfSql.run(spark,
      "neardup clips_t by doc_id on wav envelope within 0.5 order id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(loose == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "neardup clips_t by doc_id on wav frames envelope")
    }
  }

  test("classify verb: synthetic and using-model forms == API; loud weight table") {
    import spark.implicits._
    Tables.documents(spark, sf).createOrReplaceTempView("docs_cls")
    val self = KerfSql.run(spark, "classify docs_cls by doc_id on text dim 256")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    val api = graft.llm.TextOps.hashedLinearScore(Tables.documents(spark, sf),
        "doc_id", "text", graft.llm.TextOps.syntheticWeights(256), 1997L, 256)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(self == api)
    // trained-model form: a sparse (bucket, w) table; unlisted buckets = 0
    Seq((0L, 100L), (7L, -50L)).toDF("bucket", "w")
      .createOrReplaceTempView("cls_w")
    val used = KerfSql.run(spark,
      "classify docs_cls by doc_id on text using cls_w dim 16 scale 100")
    assert(used.count() > 0 && used.columns.toSeq == Seq("doc_id", "n_tokens", "score"))
    intercept[IllegalArgumentException] {
      Seq((99L, 1L)).toDF("bucket", "w").createOrReplaceTempView("cls_bad")
      KerfSql.run(spark, "classify docs_cls by doc_id on text using cls_bad dim 16")
    }
    intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("b", "x").createOrReplaceTempView("cls_bad2")
      KerfSql.run(spark, "classify docs_cls by doc_id on text using cls_bad2")
    }
    // a malformed million-row "weight table" must error LOUDLY without
    // the driver ever materializing it: the collect is limit(dim+1)-
    // capped (the BPE merge-table discipline), so only 17 rows move
    val huge = spark.range(0, 1000000L)
      .selectExpr("id % 16 as bucket", "1L as w")
    huge.createOrReplaceTempView("cls_huge")
    val ex = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "classify docs_cls by doc_id on text using cls_huge dim 16")
    }
    assert(ex.getMessage.contains("more than dim"))
  }

  test("index append form: incremental maintenance from the text surface") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_idxapp").toString
    val base = Tables.embeddings(spark, sf)
    base.createOrReplaceTempView("emb_app_base")
    base.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(7000000L))
      .createOrReplaceTempView("emb_app_new")
    base.filter(col("vec_id") === 0L).createOrReplaceTempView("emb_app_q")
    KerfSql.run(spark,
      s"index emb_app_base by vec_id on embedding at '$dir/ivf' lists 8")
    // append an exact replica of query 0 WITHOUT retraining, then probe
    KerfSql.run(spark,
      s"index emb_app_new by vec_id on embedding at '$dir/ivf' append")
    val got = KerfSql.run(spark,
        s"probe '$dir/ivf' with emb_app_q by vec_id on embedding top 1 probes 1")
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((7000000L, 1.0)), s"appended replica not found: $got")
    intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        s"index emb_app_new by vec_id on embedding at '$dir/ivf' append lists 8")
    }
  }

  test("index verb `half` stores the fp16 tier; probe stays exact on replicas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_fp16").toString
    val base = Tables.embeddings(spark, sf)
    val planted = base.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    base.unionByName(planted).createOrReplaceTempView("emb_h")
    base.filter(col("vec_id") < 2).createOrReplaceTempView("emb_hq")
    KerfSql.run(spark,
      s"index emb_h by vec_id on embedding at '$dir/ivf' lists 8 half")
    val stored = spark.read.parquet(
      s"${graft.llm.Similarity.indexRoot(s"$dir/ivf")}/lists")
    assert(stored.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ShortType, containsNull = true))
    val got = KerfSql.run(spark,
        s"probe '$dir/ivf' with emb_hq by vec_id on embedding top 1 probes 2")
      .orderBy(col("q_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((0L, 10000000L, 1.0), (1L, 10000001L, 1.0)), s"got $got")
    intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        s"index emb_h by vec_id on embedding at '$dir/pqh' pq 8 16 half")
    }
  }

  test("select distinct: projection dedup; loud with group / window verbs") {
    init
    val got = KerfSql.run(spark,
      "select distinct l_returnflag from lineitem_v order l_returnflag")
      .collect().map(_.getString(0)).toSeq
    val want = Tables.lineitem(spark, sf).select("l_returnflag")
      .distinct().orderBy("l_returnflag").collect().map(_.getString(0)).toSeq
    assert(got == want && got.nonEmpty)
    intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select distinct l_returnflag, count(*) as n from lineitem_v group l_returnflag")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select distinct l_orderkey, sums(l_quantity) from lineitem_v order l_orderkey")
    }
    // `distinct(xs)` stays the call-form LIST verb (per-row array dedup),
    // NOT the set-projection modifier
    import spark.implicits._
    Seq((1L, Seq(3, 3, 1))).toDF("id", "xs").createOrReplaceTempView("dl_t")
    val arr = KerfSql.run(spark, "select distinct(xs) as d from dl_t")
      .collect().head.getSeq[Int](0)
    assert(arr == Seq(3, 1))
  }

  test("ema verb: array-form scan == Adverbs.ema; loud on non-lists") {
    import spark.implicits._
    Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "xs")
      .createOrReplaceTempView("ema_t")
    val got = KerfSql.run(spark, "select id, ema(xs, 0.5) as e from ema_t")
      .collect().head.getSeq[Double](1)
    assert(got == Seq(1.0, 1.5, 2.25, 3.125))
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select ema(id, 0.5) from ema_t")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select ema(xs, x) from ema_t")
    }
  }

  test("order kerf(c): NaN sorts smallest (grade.cc:15), provably unlike default") {
    import spark.implicits._
    Seq((1L, 5.0), (2L, Double.NaN), (3L, 1.0), (4L, Double.NaN), (5L, 3.0))
      .toDF("id", "x").createOrReplaceTempView("kerford")
    // Kerf mode: NaN rows first (ties by id), then numeric ascending
    val kerf = KerfSql.run(spark, "select id from kerford order kerf(x), id")
      .collect().map(_.getLong(0)).toSeq
    assert(kerf == Seq(2L, 4L, 3L, 5L, 1L))
    // engine default (Spark/ANSI): NaN sorts LARGEST — different answer
    // on the same input, which is exactly why the modifier is opt-in
    val std = KerfSql.run(spark, "select id from kerford order x, id")
      .collect().map(_.getLong(0)).toSeq
    assert(std == Seq(3L, 5L, 1L, 2L, 4L))
    // descending mirror: numbers first (largest down), NaN/null at the end
    val desc = KerfSql.run(spark, "select id from kerford order -kerf(x), id")
      .collect().map(_.getLong(0)).toSeq
    assert(desc == Seq(1L, 5L, 3L, 2L, 4L))
  }

  test("set order kerf: session-wide bare-key Kerf ordering (grade.cc:15–26)") {
    import spark.implicits._
    Seq((1L, Some(5.0), "e"), (2L, Some(Double.NaN), "b"), (3L, Some(1.0), "d"),
        (4L, None: Option[Double], "a"), (5L, Some(3.0), "c"))
      .toDF("id", "x", "s").createOrReplaceTempView("kerford2")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    // session mode on: BARE float key sorts NaN/null smallest, coinciding
    // (null==NaN, test.cc:102–108), ties by id
    assert(ids(KerfSql.run(spark,
      "set order kerf; select id from kerford2 order x, id")) ==
      Seq(2L, 4L, 3L, 5L, 1L))
    // engine default on the same statement WITHOUT the mode: ANSI — null
    // first but NaN LARGEST, a provably different answer
    assert(ids(KerfSql.run(spark,
      "select id from kerford2 order x, id")) == Seq(4L, 3L, 5L, 1L, 2L))
    // descending mirror under the mode: numbers largest-down, NaN/null last
    assert(ids(KerfSql.run(spark,
      "set order kerf; select id from kerford2 order -x, id")) ==
      Seq(1L, 5L, 3L, 2L, 4L))
    // non-float bare key untouched by the mode (Kerf's total order only
    // redefines FLOAT comparison)
    assert(ids(KerfSql.run(spark,
      "set order kerf; select id from kerford2 order s")) ==
      Seq(4L, 2L, 5L, 3L, 1L))
    // full EXPRESSION keys stay ANSI even in kerf mode — the mode lowers
    // bare column keys only (explicit kerf(…) remains the expression form)
    assert(ids(KerfSql.run(spark,
      "set order kerf; select id from kerford2 order x + 0.0, id")) ==
      Seq(4L, 3L, 5L, 1L, 2L))
    // post-aggregation double ALIAS is seen via the ordered frame's schema
    val grouped = KerfSql.run(spark,
      "set order kerf; select s, avg(x) as ax from kerford2 group s order ax, s")
      .collect().map(_.getString(0)).toSeq
    assert(grouped == Seq("a", "b", "d", "c", "e"))
    // unknown mode and wrong arity are loud errors, never a fall-through
    // to the bare-expression path
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "set order bogus")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "set order kerf extra")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "set eq")
    }
  }

  test("set order kerf: persists across Interp runs, workspace round-trip, no thread leak") {
    import spark.implicits._
    Seq((1L, 5.0), (2L, Double.NaN), (3L, 1.0)).toDF("id", "x")
      .createOrReplaceTempView("kerford3")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    val sess = new KerfSql.Interp(spark)
    sess.run("set order kerf")
    // mode persists into a LATER run() on the same session
    assert(ids(sess.run("select id from kerford3 order x, id")) == Seq(2L, 3L, 1L))
    // ... but does NOT leak into a bare one-shot run on the same thread
    assert(ids(KerfSql.run(spark, "select id from kerford3 order x, id")) ==
      Seq(3L, 1L, 2L))
    // workspace round-trip: the mode saves/loads with the program tier
    val dir = java.nio.file.Files.createTempDirectory("kerf_mode_ws").toString
    sess.saveProgram(dir)
    val restored = new KerfSql.Interp(spark)
    restored.loadProgram(dir)
    assert(ids(restored.run("select id from kerford3 order x, id")) ==
      Seq(2L, 3L, 1L))
    // set order ansi restores engine default mid-session
    sess.run("set order ansi")
    assert(ids(sess.run("select id from kerford3 order x, id")) == Seq(3L, 1L, 2L))
  }

  test("rollup/cube/sets on EMPTY input emit the standard grand-total row (DuckDB fuzz find)") {
    import spark.implicits._
    Seq((1L, "a", "x", 2.0)).toDF("k1", "k2", "k3", "v")
      .filter(col("k1") > 99).createOrReplaceTempView("rollup_empty")
    // Spark's Expand-based grouping-set aggregate returns ZERO rows on
    // empty input; the SQL standard (and DuckDB/Postgres) says the `()`
    // set is a global aggregate: one row, null keys, count 0, null sums
    def rows(q: String) = sql.KerfSql.run(spark, q).collect()
    val r = rows("select k2, k3, count(*) as n, sum(v) as s " +
      "from rollup_empty group rollup (k2, k3)")
    assert(r.length == 1 && r(0).isNullAt(0) && r(0).isNullAt(1) &&
      r(0).getLong(2) == 0L && r(0).isNullAt(3), s"rollup: ${r.toSeq}")
    val c = rows("select k2, count(*) as n from rollup_empty group cube (k2)")
    assert(c.length == 1 && c(0).isNullAt(0) && c(0).getLong(1) == 0L,
      s"cube: ${c.toSeq}")
    // sets: one grand row per () occurrence; sets WITHOUT () stay empty
    val s2 = rows("select k2, count(*) as n from rollup_empty " +
      "group sets ((k2), (), ())")
    assert(s2.length == 2 && s2.forall(x => x.isNullAt(0) && x.getLong(1) == 0L),
      s"sets2: ${s2.toSeq}")
    val s0 = rows("select k2, count(*) as n from rollup_empty group sets ((k2))")
    assert(s0.isEmpty, s"sets-no-(): ${s0.toSeq}")
    // NON-empty input is untouched by the guard: the () row comes from
    // the Expand pass exactly once, not from the patch
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k1", "k2", "v")
      .createOrReplaceTempView("rollup_nonempty")
    val n = rows("select k2, count(*) as n from rollup_nonempty group rollup (k2)")
    assert(n.length == 3 && n.count(_.isNullAt(0)) == 1, s"nonempty: ${n.toSeq}")
  }

  test("loadProgram: corrupted mode keys/values fail loudly (same whitelist as `set`)") {
    // a hand-edited workspace with {"order": "bogus"} must not load
    // silently and behave as ANSI — the `set` statement rejects unknown
    // modes loudly, and restore-time state must hold the same line
    def wsWith(modes: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("kerf_badmode_ws")
      java.nio.file.Files.writeString(dir.resolve("_PROGRAM.json"),
        s"""{"vars":{},"modes":$modes,"defs":{}}""")
      dir.toString
    }
    val e1 = intercept[IllegalArgumentException] {
      new KerfSql.Interp(spark).loadProgram(wsWith("""{"order":"bogus"}"""))
    }
    assert(e1.getMessage.contains("bogus"), e1.getMessage)
    // an UNKNOWN key is forward drift, not corruption: a workspace
    // written by a build with a third mode must not brick the load —
    // warn-and-skip the stranger, restore the modes we understand
    // (r18 softening of the r17 hard-reject, per ADVICE)
    val fw = new KerfSql.Interp(spark)
    fw.loadProgram(wsWith("""{"shiny":"kerf","order":"kerf"}"""))
    assert(fw.modes.get("order").contains("kerf"), s"known key lost: ${fw.modes}")
    assert(!fw.modes.contains("shiny"), s"unknown key restored: ${fw.modes}")
    // the valid shapes still load
    val ok = new KerfSql.Interp(spark)
    ok.loadProgram(wsWith("""{"order":"kerf","eq":"ansi"}"""))
  }

  test("set order kerf: a bare key resolving in NEITHER schema fails loudly") {
    import spark.implicits._
    Seq((1L, 5.0)).toDF("id", "x").createOrReplaceTempView("kerford4")
    // under kerf mode the float/non-float decision gates a SEMANTIC
    // lowering — an unresolvable key must not silently stay ANSI
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "set order kerf; select id from kerford4 order nosuchcol, id")
    }
    assert(e.getMessage.contains("nosuchcol"), e.getMessage)
    // ANSI mode keeps Spark's own resolution error path for the same typo
    intercept[Exception] {
      KerfSql.run(spark, "select id from kerford4 order nosuchcol, id").collect()
    }
  }

  test("set order kerf: windowed selects and the top verb honor the mode") {
    import spark.implicits._
    Seq(("a", Double.NaN, 1L), ("a", 1.0, 10L), ("a", 2.0, 100L),
        ("b", 5.0, 7L), ("b", Double.NaN, 3L))
      .toDF("k", "x", "v").createOrReplaceTempView("kerfwin")
    // window verbs: the frame order is the kerfified key, so cumulative
    // sums accumulate the NaN row FIRST within its partition
    val kerf = KerfSql.run(spark,
      "set order kerf; select k, v, sums(v) as cum from kerfwin group k order x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(kerf == Seq(("a", 1L, 1L), ("a", 10L, 11L), ("a", 100L, 111L),
                       ("b", 3L, 3L), ("b", 7L, 10L)))
    // engine default: NaN sorts LAST, so the same scan accumulates the
    // finite rows first — provably different on the same input
    val ansi = KerfSql.run(spark,
      "select k, v, sums(v) as cum from kerfwin group k order x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ansi == Seq(("a", 10L, 10L), ("a", 100L, 110L), ("a", 1L, 111L),
                       ("b", 7L, 7L), ("b", 3L, 10L)))
    // top verb: rank-1 ascending under the mode is the NaN row
    val top = KerfSql.run(spark,
      "set order kerf; t1: top kerfwin by k at 1 order x; " +
      "select k, v from t1 order k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a", 1L), ("b", 3L)))
  }

  test("set eq kerf: session-wide tolerant float equality (test.cc:102–108, grade.cc:9–41)") {
    import spark.implicits._
    Seq(
      (1L, Some(100.0), Some(100.0 * (1 + math.pow(2, -50)))), // ~4 ulp apart: UNEQUAL under the reference E=1e-20 (was equal at the pre-r17 1e-14)
      (2L, Some(100.0), Some(100.00001)),                      // outside any tolerance
      (3L, Some(Double.NaN), Some(Double.NaN)),                // NaN == NaN
      (4L, None: Option[Double], None: Option[Double]),        // null == null
      (5L, None: Option[Double], Some(5.0)),                   // null vs finite
      (6L, Some(Double.NaN), Some(5.0)),                       // NaN vs finite
      (7L, Some(3.5), Some(3.5)))                              // exact
      .toDF("id", "a", "b").createOrReplaceTempView("kerfeq")
    def ids(q: String): Seq[Long] =
      KerfSql.run(spark, q).collect().map(_.getLong(0)).toSeq
    // kerf mode: reference-E equality (effectively exact for finite
    // doubles — E=1e-20 is sub-ulp), null==NaN-style non-values equal
    assert(ids("set eq kerf; select id from kerfeq where a = b order id") ==
      Seq(3L, 4L, 7L))
    // ... and != is its exact complement (never null-swallowed)
    assert(ids("set eq kerf; select id from kerfeq where a != b order id") ==
      Seq(1L, 2L, 5L, 6L))
    // engine default: exact equality — within-eps differs, null=null is
    // null (row dropped); Spark's own NaN=NaN-true semantics retained
    assert(ids("select id from kerfeq where a = b order id") == Seq(3L, 7L))
    // non-float comparisons stay exact under the mode
    assert(ids("set eq kerf; select id from kerfeq where id = 3 order id") ==
      Seq(3L))
    // ordering comparisons stay ANSI under the mode (only = / != flip):
    // rows 1 and 2 both satisfy `<` — kerf eq-mode does not touch the
    // inequality operators
    assert(ids("set eq kerf; select id from kerfeq where a < b order id") ==
      Seq(1L, 2L))
    // join `on` keys never pass through the mode: eps-different float
    // keys do NOT match — equi-joins stay exact hash joins
    Seq((100.0, "l")).toDF("k", "lv").createOrReplaceTempView("kerfeq_l")
    Seq((100.0 * (1 + math.pow(2, -50)), "r")).toDF("k", "rv")
      .createOrReplaceTempView("kerfeq_r")
    val joined = KerfSql.run(spark,
      "set eq kerf; select lv, rv from kerfeq_l join kerfeq_r on k")
    assert(joined.count() == 0L)
  }

  test("index/probe verbs: persisted-ANN lifecycle from the text surface") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_index").toString
    val base = Tables.embeddings(spark, sf)
    val planted = base.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    base.unionByName(planted).createOrReplaceTempView("emb_ix")
    base.filter(col("vec_id") < 3).createOrReplaceTempView("emb_q")
    // IVF: planted replicas rank 1 at cos 1.0 for their originals
    KerfSql.run(spark,
      s"index emb_ix by vec_id on embedding at '$dir/ivf' lists 8")
    val got = KerfSql.run(spark,
        s"t: probe '$dir/ivf' with emb_q by vec_id on embedding top 1 probes 2; " +
        "select q_id, cand_id, sim from t order q_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // vec_id 0 finds its planted replica at exactly 1.0; 1 and 2 have no
    // replica and top out at organic similarity (margin < 0.9)
    assert(got.size == 3 && got.head == (0L, 10000000L, 1.0), s"got $got")
    assert(got.tail.forall(_._3 < 0.9), s"organic margin broke: $got")
    // IVF-PQ: same closed form through the composed on-disk layout
    KerfSql.run(spark,
      s"index emb_ix by vec_id on embedding at '$dir/ivfpq' lists 8 pq 8 16")
    val got2 = KerfSql.run(spark,
        s"probe '$dir/ivfpq' with emb_q by vec_id on embedding top 1 probes 4 using emb_ix")
      .filter(col("q_id") === 0L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(got2 == Seq((0L, 10000000L, 1.0)))
    // loud errors: no layout clause; PQ probe without originals
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"index emb_ix by vec_id on embedding at '$dir/none'")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"probe '$dir/ivfpq' with emb_q by vec_id on embedding top 1")
    }
  }

  test("lmscore verb: self-census and using-model forms == API") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_lm")
    val self = KerfSql.run(spark, "lmscore docs_lm by doc_id on text")
      .orderBy("doc_id").collect().toSeq
    val want = graft.llm.TextOps.unigramStats(
        Tables.documents(spark, sf), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(self == want)
    // deployment split: model trained on half the corpus, scores the rest
    graft.llm.TextOps.unigramCensus(
        Tables.documents(spark, sf).filter(col("doc_id") < 250), "doc_id", "text")
      .createOrReplaceTempView("lm_model")
    val scored = KerfSql.run(spark,
      "rest: select doc_id, text from docs_lm where doc_id >= 250; " +
      "lmscore rest by doc_id on text using lm_model")
    val wantScored = graft.llm.TextOps.unigramScore(
        Tables.documents(spark, sf).filter(col("doc_id") >= 250),
        spark.table("lm_model"), "doc_id", "text")
    assert(scored.orderBy("doc_id").collect().toSeq ==
           wantScored.orderBy("doc_id").collect().toSeq)
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "lmscore docs_lm by doc_id on text using docs_lm")
    }
  }

  test("dedup/neardup parse errors are loud, not silent column guesses") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    intercept[Exception] { KerfSql.run(spark, "dedup docs_kv on text") }
    intercept[Exception] {
      KerfSql.run(spark, "dedup docs_kv by doc_id on text extra tokens")
    }
  }

  test("verb grammar: every cut of every verb program fails naming the verb and clause") {
    val dir = java.nio.file.Files.createTempDirectory("graft_verb_cuts").toString
    val p = s"'$dir/p'"
    // one valid program per pipeline verb: `|` splits the head from each
    // clause, `?` marks an optional clause (the table names are never
    // looked up — a cut must fail in the parser)
    val programs = Seq(
      "dedup t | by id | on text | ?order a",
      "neardup t | by id | on text | ?edit 2 | ?prefix 4 | ?keep | best s | ?order a",
      "neardup t | by id | on wav | ?envelope | ?within 0.5",
      s"neardup t | by id | on text | ?against $p | ?within 0.5",
      s"neardup t | by id | on text | ?into $p",
      "semdedup t | by id | on v | ?within 0.9 | ?clusters 8 | ?keep | ?best s | ?order a",
      "chunk t | by id | on text | size 4 | ?overlap 2",
      "lmscore t | by id | on text | ?using m",
      "bpe t | by id | on text | using m",
      "bpetrain t | on text | at 6 | ?min 2",
      "census t | by id | on text",
      "drift a | against b | ?top 5",
      "classify t | by id | on text | ?using w | ?dim 16 | ?scale 100",
      "classifytrain t | by id | on text | label y | ?dim 16 | ?epochs 2 | ?scale 100",
      s"index t | by id | on v | at $p | ?lists 8 | ?pq 8 16",
      s"index t | by id | on v | at $p | ?lists 8 | ?half",
      s"index t | by id | on v | at $p | ?append",
      s"probe $p | with q | by id | on v | top 1 | ?probes 2 | ?rerank 8 | ?using o",
      "sample t | by id | at '29'",
      "shard t | by id | into 4",
      "cap t | by s | at 5 | on id",
      "top t | by k | at 3 | order v",
      s"compact $p | ?by a | ?sort b | ?into 2",
      s"vacuum $p",
      s"rollup $p | ?append t | by k | on v",
      "pivot t | by k | on p | in ('x', 2) | agg sum(v)",
      "unpivot t | by k | on (x, y) | as n, v",
      "ungroup t | ?on a",
      "uj a, b")
    def toks(s: String): Seq[String] =
      """'[^']*'|[A-Za-z_][A-Za-z0-9_]*|\d+(?:\.\d+)?|[(),]""".r.findAllIn(s).toSeq
    val verbs = programs.map(_.takeWhile(_ != ' ')).toSet
    assert(KerfSql.verbNames.toSet == verbs,
      s"verbs without a program: ${KerfSql.verbNames.toSet -- verbs}")
    def failsNaming(stmt: String, verb: String, clause: String): Unit =
      // both dispatch sites: the statement and the assignment form
      Seq(stmt, s"r: $stmt").foreach { s =>
        val e = intercept[IllegalArgumentException](KerfSql.run(spark, s))
        assert(e.getMessage.contains(verb) && e.getMessage.contains(s"`$clause`"),
          s"`$s` failed without naming $verb and `$clause`: ${e.getMessage}")
      }
    val group = "verb_grammar_cuts"
    spark.sparkContext.setJobGroup(group, group)
    try {
      for (prog <- programs) {
        val verb = prog.takeWhile(_ != ' ')
        // each segment's tokens, its clause name and whether it is required;
        // the head's name is its role: a table list, a path or a table
        val segs = prog.split(" \\| ").toSeq.zipWithIndex.map { case (seg, i) =>
          val ts = toks(seg.stripPrefix("?"))
          val name =
            if (i > 0) ts.head
            else if (ts(1).startsWith("'")) "path"
            else if (ts.lift(2).contains(",")) "tables"
            else "table"
          (ts, name, !seg.startsWith("?"))
        }
        val all = segs.flatMap(_._1)
        assert(KerfSql.checkVerb(all.mkString(" ")) == verb, prog)
        // the head shape is the first three tokens (`verb t by`,
        // `verb 'path' kw`, `uj t1 ,`): cut after it, short of the end
        val starts = segs.map(_._1.length).scanLeft(0)(_ + _)
        for (k <- 3 until all.length) {
          val cut = all.take(k).mkString(" ")
          starts.indexOf(k) match {
            case s if s > 0 && !segs(s)._3 => assert(KerfSql.checkVerb(cut) == verb, cut)
            case s if s > 0 => failsNaming(cut, verb, segs(s)._2)
            case _ => failsNaming(cut, verb, segs(starts.lastIndexWhere(_ < k))._2)
          }
        }
      }
      // out-of-range ints and non-numeric numbers name the clause too
      failsNaming("chunk t by id on text size 99999999999", "chunk", "size")
      failsNaming("cap t by id at 99999999999 on id", "cap", "at")
      failsNaming("neardup t by id on text within abc", "neardup", "within")
      failsNaming("classify t by id on text dim 2000000", "classify", "dim")
      failsNaming("shard t by id into 0", "shard", "into")
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally spark.sparkContext.clearJobGroup()
  }

  test("vacuum assigns like the other table-valued verbs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kerf_vac_as").toString
    graft.io.Folio.appendWithPromotion(Seq((1L, 1.0)).toDF("k", "v"), s"$dir/f")
    graft.io.Folio.upsertPublish(Seq((1L, 9.0)).toDF("k", "v"), s"$dir/f", Seq("k"))
    new java.io.File(s"$dir/f/v00000000").mkdirs() // a superseded-era leftover
    val got = KerfSql.run(spark, s"r: vacuum '$dir/f'; select removed from r")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("v00000000"), s"got $got")
  }

  test("every table-valued head assigns the rows its statement returns, program defs in scope") {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "v").createOrReplaceTempView("heads_t")
    val server = graft.sources.RemoteTableServer.start(spark,
      Map("customer" -> s"$sf/customer.parquet"), enableEval = true)
    try {
      val heads = Seq(
        "select a, sq(v) as b from heads_t where sq(a) > 1",
        "explain select sq(a) as b from heads_t",
        "update heads_t set v = sq(v) where sq(a) > 3",
        "delete from heads_t where sq(a) > 3",
        "insert into heads_t select a + 3 as a, sq(v) as v from heads_t",
        "upsert into heads_t key a select a, sq(v) as v from heads_t where sq(a) > 3",
        "shard heads_t by a into 2",
        "meta heads_t",
        s"rexec '${server.evalHandle}' 'select count(*) as n from customer'")
      val prelude = "def sq(x) {x * x}; "
      // an explained plan names its attributes with per-analysis ids
      def rows(prog: String): Seq[String] = KerfSql.run(spark, prelude + prog).collect()
        .map(_.toString.replaceAll("#\\d+", "#")).toSeq.sorted
      heads.foreach { stmt =>
        val direct = rows(stmt)
        assert(direct.nonEmpty, stmt)
        assert(rows(s"r: $stmt; select * from r") == direct, stmt)
      }
    } finally server.stop()
  }

  test("reserved literals (lexer.h:101-102): true/false/inf/infinity/nan/null/nil") {
    def one(prog: String) = KerfSql.run(spark, prog).collect()(0)
    assert(one("true").getBoolean(0))
    assert(!one("false").getBoolean(0))
    assert(one("false or true").getBoolean(0))
    assert(one("inf").getDouble(0).isPosInfinity)
    assert(one("- inf").getDouble(0).isNegInfinity)
    assert(one("infinity > 999999999").getBoolean(0))
    assert(one("nan").getDouble(0).isNaN)
    // Spark's NaN regime (the declared ANSI deviation): NaN equals itself
    assert(one("nan == nan").getBoolean(0))
    assert(one("null").isNullAt(0))
    assert(one("nil").isNullAt(0))
    // reserved case-insensitively, like the reference's reserved_lookup
    assert(one("TRUE").getBoolean(0))
    assert(one("Inf").getDouble(0).isPosInfinity)
    // `root` completes RESERVED_NAME_NAMES: reserved globally (it never
    // resolves as a column), erroring because workspaces are
    // directory-backed here rather than an in-language tree object
    val e = intercept[IllegalArgumentException] { one("root") }
    assert(e.getMessage.contains("reserved"))
    intercept[IllegalArgumentException] { one("ROOT") }
  }

  test("sample/shard verbs == Pipeline column forms; assignment registers a view") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kv")
    val docs = Tables.documents(spark, sf)
    val gotS = KerfSql.run(spark, "sample docs_kv by doc_id at '29'")
    val wantS = graft.llm.Pipeline.hashSample(docs, col("doc_id").cast("string"), "29")
    assert(gotS.select("doc_id").collect().map(_.getLong(0)).toSet ==
           wantS.select("doc_id").collect().map(_.getLong(0)).toSet)
    val gotH = KerfSql.run(spark, "shard docs_kv by doc_id into 4")
    val wantH = graft.llm.Pipeline.shardAssignment(docs, col("doc_id").cast("string"), 4)
    assert(gotH.select("doc_id", "shard", "pos").collect().map(r =>
             (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
           wantH.select("doc_id", "shard", "pos").collect().map(r =>
             (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    // verbs assign like selects: the view is live for later statements
    val piped = KerfSql.run(spark,
      "sm: sample docs_kv by doc_id at '29'; " +
      "select count(*) as n from sm")
    assert(piped.collect()(0).getLong(0) == wantS.count())
    // loud parse errors: unquoted/ill-formed rate, non-numeric shard count
    intercept[Exception] { KerfSql.run(spark, "sample docs_kv by doc_id at 29") }
    intercept[Exception] { KerfSql.run(spark, "sample docs_kv by doc_id at 'ZZ'") }
    intercept[Exception] { KerfSql.run(spark, "shard docs_kv by doc_id into zero") }
  }

  test("cap verb == capPerStratum; composes as a table-valued assignment") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_cap")
    val docs = Tables.documents(spark, sf)
    val got = KerfSql.run(spark, "cap docs_cap by source at 5 on doc_id")
    val want = graft.llm.Pipeline.capPerStratum(
      docs, col("source"), col("doc_id").cast("string"), 5)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet ==
           want.select("doc_id").collect().map(_.getLong(0)).toSet)
    val piped = KerfSql.run(spark,
      "cp: cap docs_cap by source at 5 on doc_id; " +
      "select source, count(*) as n from cp group source order source")
    piped.collect().foreach(r => assert(r.getLong(1) <= 5,
      s"stratum ${r.getString(0)} over its cap"))
    // loud parse errors: non-numeric / missing key clause
    intercept[Exception] { KerfSql.run(spark, "cap docs_cap by source at many on doc_id") }
    intercept[Exception] { KerfSql.run(spark, "cap docs_cap by source at 5") }
    // the verb names are NOT reserved (lexer.h:100-105 reserves only
    // control/number/SQL heads): user defs and vars with these names win
    assert(evalOne("def cap(x) { if (x > 10) { return 10 }; x }; cap(99)") == 10L)
    assert(evalOne("def sample(x) { x * 2 }; sample(21)") == 42L)
    assert(evalOne("shard: 7; shard + 1") == 8L)
  }

  test("upsert into … key … values replaces and inserts") {
    init
    val before = Tables.orders(spark, sf).count()
    val existing = Tables.orders(spark, sf).select("o_orderkey").first().getLong(0)
    val got = KerfSql.run(spark,
      s"upsert into orders_v key o_orderkey values " +
      s"($existing, 1, 'X', 123.45, '1995-01-01', 'LOW'), " +
      s"(999999999, 1, 'X', 50.0, '1995-01-01', 'LOW')")
    assert(got.count() == before + 1)
    assert(got.filter(col("o_orderkey") === existing).first().getString(2) == "X")
  }

  // ---------------------------------------------------------- round 12

  test("negative literals parse in predicate, select-item, and span positions") {
    import spark.implicits._
    Seq(("a", -0.5), ("b", 0.5), ("c", -2.0)).toDF("k", "v")
      .createOrReplaceTempView("neg_v")
    // predicate position (the q153 seam: `where score > -0.01`)
    val pred = KerfSql.run(spark, "select k from neg_v where v > -1.0 order k")
    assert(pred.as[String].collect().toSeq == Seq("a", "b"))
    // select-item position, including after a binary operator
    val sel = KerfSql.run(spark,
      "select k, -v as nv, v + -1.0 as vm1 from neg_v order k")
    assert(sel.select("nv").as[Double].collect().toSeq == Seq(0.5, -0.5, 2.0))
    assert(sel.select("vm1").as[Double].collect().toSeq == Seq(-1.5, -0.5, -3.0))
    // span position: ts + -1h == ts - 1h on the exact ns axis
    assert(evalOne("(2024.01.05T12:00:00 + -1h) == (2024.01.05T12:00:00 - 1h)")
      == true)
  }

  test("fills window verb == last(ignoreNulls) over the running frame") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, Some(10.0)), ("a", 2L, None), ("a", 3L, None),
      ("a", 4L, Some(40.0)), ("a", 5L, None),
      ("b", 1L, None), ("b", 2L, Some(7.0)), ("b", 3L, None)
    ).toDF("k", "ts", "v")
    df.createOrReplaceTempView("fills_v")
    val got = KerfSql.run(spark,
      "select k, ts, fills(v) as fv, bfills(v) as bv from fills_v group k order ts")
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy("k").orderBy("ts")
    val w = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val want = df
      .select(col("k"), col("ts"),
        last(col("v"), ignoreNulls = true).over(w).as("fv"),
        first(col("v"), ignoreNulls = true).over(wf).as("bv"))
      .orderBy("k", "ts")
    assert(got.collect().toSeq == want.collect().toSeq)
    // backward-fill mirrors: next non-null, null after the last one
    val bvs = got.filter(col("k") === "a").select("bv").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(bvs.toSeq == Seq(Some(10.0), Some(40.0), Some(40.0), Some(40.0), None))
    // leading rows before any non-null stay null; gaps carry the last value
    val a = got.filter(col("k") === "a").select("fv").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(a.toSeq == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0), Some(40.0)))
    val b = got.filter(col("k") === "b").select("fv").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(b.toSeq == Seq(None, Some(7.0), Some(7.0)))
  }

  test("moving verbs msums/mavgs/mmins/mmaxs == bounded ROWS frame API") {
    init
    Tables.lineitem(spark, sf).limit(500)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .createOrReplaceTempView("li_mv_v")
    val got = KerfSql.run(spark,
      "select l_orderkey, l_linenumber, msums(3, l_quantity) as ms, " +
      "mavgs(3, l_quantity) as ma, mmins(2, l_quantity) as mn, " +
      "mmaxs(2, l_quantity) as mx " +
      "from li_mv_v group l_orderkey order l_linenumber")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    val f3 = w.rowsBetween(-2, Window.currentRow)
    val f2 = w.rowsBetween(-1, Window.currentRow)
    val want = spark.table("li_mv_v")
      .select(col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(f3).as("ms"), avg("l_quantity").over(f3).as("ma"),
        min("l_quantity").over(f2).as("mn"), max("l_quantity").over(f2).as("mx"))
      .orderBy("l_orderkey", "l_linenumber")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("moving verbs demand a literal positive integer width") {
    import spark.implicits._
    Seq(("a", 1L, 1.0)).toDF("k", "ts", "v").createOrReplaceTempView("mw_v")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select k, msums(v, 3) as s from mw_v group k order ts")
    }
    assert(e.getMessage.contains("width literal"), s"wrong error: ${e.getMessage}")
    val e0 = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select k, msums(0, v) as s from mw_v group k order ts")
    }
    assert(e0.getMessage.contains("width literal"), s"wrong error: ${e0.getMessage}")
  }

  test("ranks(arg): empty call and the first order key pass; anything else is loud") {
    init
    // empty call form
    val g0 = KerfSql.run(spark,
      "select o_custkey, o_orderkey, ranks() as rk from orders_v " +
      "group o_custkey order o_orderdate, o_orderkey")
    // first-order-key form (q152's spelling) — identical result
    val g1 = KerfSql.run(spark,
      "select o_custkey, o_orderkey, ranks(o_orderdate) as rk from orders_v " +
      "group o_custkey order o_orderdate, o_orderkey")
    assert(g0.collect().toSeq == g1.collect().toSeq)
    // an argument that is NOT the order key would silently rank by the
    // order clause — reject it loudly instead
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select o_custkey, ranks(o_totalprice) as rk from orders_v " +
        "group o_custkey order o_orderdate")
    }
    assert(e.getMessage.contains("order clause"), s"wrong error: ${e.getMessage}")
  }

  test("statistical aggregates wavg/var/dev/cov/cor: q-family moments, exact decimal sums") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 7.0), (4.0, 11.0))
      .toDF("x", "y")
    df.createOrReplaceTempView("stats_v")
    val r = KerfSql.run(spark,
      "select wavg(x, y) as wa, var(x) as vr, dev(x) as sd, " +
      "cov(x, y) as cv, cor(x, y) as cr from stats_v").first()
    // hand-computed population moments on the tiny exact-value frame:
    // wavg = Σxy/Σx = (2+8+21+44)/10 = 7.5
    // var(x): mean 2.5, Σx²/n - mean² = 30/4 - 6.25 = 1.25
    // cov:    Σxy/n - mx·my = 75/4 - 2.5·6 = 3.75
    // cor:    3.75 / (sqrt(1.25)·sqrt(var y)); var y = 190/4 - 36 = 11.5
    assert(r.getDouble(0) == 7.5)
    assert(r.getDouble(1) == 1.25)
    assert(r.getDouble(2) == math.sqrt(1.25))
    assert(r.getDouble(3) == 3.75)
    assert(r.getDouble(4) == 3.75 / (math.sqrt(1.25) * math.sqrt(11.5)))
    // grouped form runs through groupBy().agg() like any aggregate
    Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("k", "x")
      .createOrReplaceTempView("stats_g_v")
    val g = KerfSql.run(spark,
      "select k, var(x) as vr from stats_g_v group k order k")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(g == Seq(("a", 1.0), ("b", 0.0)))
    // two-arg forms demand both arguments
    val e = intercept[Exception] {
      KerfSql.run(spark, "select wavg(x) as w from stats_v")
    }
    assert(e.getMessage.contains(","), s"wrong error: ${e.getMessage}")
  }

  test("wavgs window verb: running weighted mean == decimal-sum window API") {
    import spark.implicits._
    val df = Seq(("a", 1L, 2.0, 10.0), ("a", 2L, 3.0, 20.0), ("a", 3L, 5.0, 30.0))
      .toDF("k", "ts", "w", "x")
    df.createOrReplaceTempView("wavgs_v")
    val got = KerfSql.run(spark,
      "select k, ts, wavgs(w, x) as cw from wavgs_v group k order ts")
      .select("cw").as[Double].collect().toSeq
    // running Σ(w·x)/Σw: 20/2; (20+60)/5; (20+60+150)/10
    assert(got == Seq(10.0, 16.0, 23.0))
    // two-expression form demands both arguments
    intercept[Exception] {
      KerfSql.run(spark, "select k, wavgs(w) as cw from wavgs_v group k order ts")
    }
  }

  test("emas window verb == the array-form ema scan, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = for (k <- Seq("a", "b"); i <- 1 to 50)
      yield (k, i.toLong, rnd.nextDouble() * 100 - 50)
    rows.toDF("k", "ts", "v").createOrReplaceTempView("emas_v")
    val got = KerfSql.run(spark,
      "select k, ts, emas(0.25, v) as e from emas_v group k order ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // the array substrate: group to a sorted series, EmaScan, re-zip
    val want = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
      val sorted = g.sortBy(_._2)
      val emas = sorted.map(_._3).tail
        .scanLeft(sorted.head._3)((prev, x) => prev + 0.25 * (x - prev))
      sorted.map(_._2).zip(emas).map { case (ts, e) => (k, ts, e) }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
    // alpha must be a literal, and in range
    intercept[Exception] {
      KerfSql.run(spark, "select k, emas(v, v) as e from emas_v group k order ts")
    }
    intercept[Exception] {
      KerfSql.run(spark, "select k, emas(2.5, v) as e from emas_v group k order ts")
    }
  }

  test("fby: groupwise-aggregate filter is one window, never a self-join") {
    import spark.implicits._
    val df = Seq(("a", "x", 1.0), ("a", "x", 3.0), ("a", "y", 3.0),
                 ("b", "x", 5.0), ("b", "x", 4.0))
      .toDF("k", "k2", "v")
    df.createOrReplaceTempView("fby_v")
    val got = KerfSql.run(spark,
      "select k, k2, v from fby_v where v = max(v) by k order k, k2, v")
    import org.apache.spark.sql.expressions.Window
    val want = df
      .withColumn("__mx", max(col("v")).over(Window.partitionBy(col("k"))))
      .filter(col("v") === col("__mx")).drop("__mx")
      .orderBy("k", "k2", "v")
    assert(got.collect().toSeq == want.collect().toSeq)
    // ties all qualify (both 'a' rows at 3.0)
    assert(got.filter(col("k") === "a").count() == 2)
    // composes with plain conjuncts and multi-key partitions
    val multi = KerfSql.run(spark,
      "select k, k2, v from fby_v where v >= 1.0 and v = max(v) by k, k2 " +
      "order k, k2, v").collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(multi.toSeq ==
      Seq(("a", "x", 3.0), ("a", "y", 3.0), ("b", "x", 5.0)))
    // the lowering is ONE window over one scan — the classic SQL
    // self-join spelling is exactly what fby exists to avoid
    val plan = KerfSql.run(spark,
      "select k, v from fby_v where v = max(v) by k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fby lowered to a self-join:\n$plan")
    assert(plan.contains("Window"), s"no window in fby plan:\n$plan")
  }

  test("window join (wj): band membership, back/forward, empty-band nulls, no cartesian") {
    import spark.implicits._
    Seq((1L, 100L, 9.0), (1L, 300L, 11.0), (2L, 100L, 20.0))
      .toDF("sym", "t_ts", "px").createOrReplaceTempView("wj_t")
    Seq((1L, 80L, 1.0), (1L, 120L, 2.0), (1L, 290L, 3.0), (2L, 500L, 4.0))
      .toDF("sym", "q_ts", "bid").createOrReplaceTempView("wj_q")
    def run(band: String) = KerfSql.run(spark,
      "select sym, t_ts, px, max(bid) as top, count(bid) as n " +
      s"from wj_t window join wj_q on sym at t_ts, q_ts within $band " +
      "group sym, t_ts, px order sym, t_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4))).toSeq
    // symmetric ±50: trade@100 sees 80+120; trade@300 sees 290;
    // trade@(2,100) sees nothing → null max, count 0 (the wj convention)
    assert(run("50") == Seq(
      (1L, 100L, Some(2.0), 2L), (1L, 300L, Some(3.0), 1L),
      (2L, 100L, None, 0L)))
    // back: only quotes at-or-before; forward: only at-or-after
    assert(run("50 back") == Seq(
      (1L, 100L, Some(1.0), 1L), (1L, 300L, Some(3.0), 1L),
      (2L, 100L, None, 0L)))
    assert(run("50 forward") == Seq(
      (1L, 100L, Some(2.0), 1L), (1L, 300L, None, 0L),
      (2L, 100L, None, 0L)))
    // the equi keys keep the plan a hash/merge join — never cartesian
    val plan = KerfSql.run(spark,
      "select sym, t_ts, max(bid) as top from wj_t window join wj_q " +
      "on sym at t_ts, q_ts within 50 group sym, t_ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"window join degenerated:\n$plan")
    // right value-column collision is loud
    Seq((1L, 100L, 5.0)).toDF("sym", "q_ts", "px").createOrReplaceTempView("wj_qc")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select sym, t_ts from wj_t window join wj_qc on sym at t_ts, q_ts " +
        "within 50 group sym, t_ts")
    }
    assert(e.getMessage.contains("collides"), s"wrong error: ${e.getMessage}")
    // PREVAILING (q's wj proper vs wj1): each band also carries the
    // latest quote STRICTLY before the band start. trade@300 band
    // [250,350] holds 290 AND carries 120's 2.0 → count 2; trade@100
    // band [50,150] has no earlier quote (80 is in-band) → unchanged;
    // (2,100) has neither → still the null row
    assert(run("50 prevailing") == Seq(
      (1L, 100L, Some(2.0), 2L), (1L, 300L, Some(3.0), 2L),
      (2L, 100L, None, 0L)))
    // back band [250,300]: trade@300 still carries 120's 2.0 into the
    // window; trade@100's band [50,100] holds 80 and nothing precedes
    assert(run("50 back prevailing") == Seq(
      (1L, 100L, Some(1.0), 1L), (1L, 300L, Some(3.0), 2L),
      (2L, 100L, None, 0L)))
    // TIMESTAMP axes: the band is µs (span ns → µs, the as-of unit
    // contract); same membership as the long form scaled to seconds
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 12:00:00"), 9.0))
      .toDF("sym", "t_ts", "px").createOrReplaceTempView("wj_tt")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 11:59:30"), 1.0),
        (1L, java.sql.Timestamp.valueOf("2024-01-05 12:02:00"), 2.0))
      .toDF("sym", "q_ts", "bid").createOrReplaceTempView("wj_tq")
    val ts = KerfSql.run(spark,
      "select sym, px, max(bid) as top, count(bid) as n " +
      "from wj_tt window join wj_tq on sym at t_ts, q_ts within 1i " +
      "group sym, px order sym")
      .collect().map(r => (r.getDouble(2), r.getLong(3))).toSeq
    // ±1 minute: only the 11:59:30 quote is in band
    assert(ts == Seq((1.0, 1L)), s"timestamp band: $ts")
    // prevailing on a TIMESTAMP axis: the µs-interval shift must hold —
    // an 11:50 quote is strictly before the 11:59 band start and is
    // carried in; the in-band 11:59:30 stays; count 2
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 11:50:00"), 0.5),
        (1L, java.sql.Timestamp.valueOf("2024-01-05 11:59:30"), 1.0),
        (1L, java.sql.Timestamp.valueOf("2024-01-05 12:02:00"), 2.0))
      .toDF("sym", "q_ts", "bid").createOrReplaceTempView("wj_tq2")
    val tp = KerfSql.run(spark,
      "select sym, px, max(bid) as top, count(bid) as n " +
      "from wj_tt window join wj_tq2 on sym at t_ts, q_ts within 1i prevailing " +
      "group sym, px order sym")
      .collect().map(r => (r.getDouble(2), r.getLong(3))).toSeq
    assert(tp == Seq((1.0, 2L)), s"timestamp prevailing: $tp")
    // the SINGLE-AXIS form (`at ts`, both sides share the name) must
    // support prevailing too — the common tick-table shape; the right
    // axis is renamed internally for the as-of merge, not rejected
    Seq((1L, 300L, 9.0)).toDF("sym", "ts", "px")
      .createOrReplaceTempView("wj_st")
    Seq((1L, 120L, 2.0), (1L, 290L, 3.0))
      .toDF("sym", "ts", "bid").createOrReplaceTempView("wj_sq")
    val sp = KerfSql.run(spark,
      "select sym, px, max(bid) as top, count(bid) as n " +
      "from wj_st window join wj_sq on sym at ts within 50 prevailing " +
      "group sym, px order sym")
      .collect().map(r => (r.getDouble(2), r.getLong(3))).toSeq
    // band [250,350] holds 290; 120's 2.0 is carried as the entry value
    assert(sp == Seq((3.0, 2L)), s"single-axis prevailing: $sp")
  }

  test("uj: schema-aligning union — null fill, width promotion, loud mismatches") {
    import spark.implicits._
    Seq((1, 1.5)).toDF("k", "x").createOrReplaceTempView("uj_a")  // k: int
    Seq((2L, "s")).toDF("k", "y").createOrReplaceTempView("uj_b") // k: long
    val got = KerfSql.run(spark, "uj uj_a, uj_b")
    // first-appearance column order; k widened int → long
    assert(got.columns.toSeq == Seq("k", "x", "y"))
    assert(got.schema("k").dataType ==
      org.apache.spark.sql.types.LongType, "k did not widen to long")
    val rows = got.orderBy("k").collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getDouble(1)),
      if (r.isNullAt(2)) None else Some(r.getString(2)))).toSeq
    assert(rows == Seq((1L, Some(1.5), None), (2L, None, Some("s"))))
    // three-way form; assignment registers a view
    val three = KerfSql.run(spark,
      "u: uj uj_a, uj_b, uj_a; select count(*) as n from u").first().getLong(0)
    assert(three == 3L)
    // incompatible same-named types are loud, not silently stringified
    Seq((1, "oops")).toDF("x", "k").createOrReplaceTempView("uj_c")
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "uj uj_a, uj_c").collect()
    }
  }

  test("uj widen: long × float promotes to DOUBLE, never truncates to float") {
    import spark.implicits._
    // 2^24 + 1 is NOT representable in binary32 — the old rank pick
    // (float above long) would have silently rounded it to 16777216.0
    val big = (1L << 24) + 1
    Seq((big, "l")).toDF("v", "tag").createOrReplaceTempView("ujw_l")
    Seq((0.5f, "f")).toDF("v", "tag").createOrReplaceTempView("ujw_f")
    val got = KerfSql.run(spark, "uj ujw_l, ujw_f")
    assert(got.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType, "long × float must widen to double")
    val vs = got.orderBy("tag").collect().map(_.getDouble(0)).toSeq
    assert(vs == Seq(0.5, big.toDouble), s"values drifted: $vs")
    // int × float takes the same double route (ints above 2^24 exist)
    Seq((1, "i")).toDF("v", "tag").createOrReplaceTempView("ujw_i")
    assert(KerfSql.run(spark, "uj ujw_i, ujw_f").schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // byte/short × float stay float (exact in binary32); the lattice
    // below float is untouched
    assert(graft.io.Folio.widen(org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.FloatType) ==
      org.apache.spark.sql.types.FloatType)
    assert(graft.io.Folio.widen(org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType) ==
      org.apache.spark.sql.types.LongType)
  }

  test("fby guards: compound right side rejected loudly; select-item comma is an item boundary") {
    import spark.implicits._
    Seq(("a", 1.0, 10L), ("a", 3.0, 20L), ("b", 5.0, 30L))
      .toDF("k", "v", "b").createOrReplaceTempView("fbyg_v")
    // `max(v) + 1` is not ONE aggregate call — a dialect error naming
    // fby and the staging workaround, not a raw Spark AnalysisException
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select k, v from fbyg_v where v = max(v) + 1 by k")
    }
    assert(e.getMessage.contains("fby") && e.getMessage.contains("stage"),
      s"wrong error: ${e.getMessage}")
    // in select-item position `by` takes exactly ONE key: the `, b`
    // after it is the NEXT select item, not a second partition key
    val got = KerfSql.run(spark,
      "select k, v = max(v) by k as hit, b from fbyg_v order b")
    assert(got.columns.toSeq == Seq("k", "hit", "b"), s"b was swallowed: ${got.columns.toSeq}")
    val rows = got.collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", false, 10L), ("a", true, 20L), ("b", true, 30L)), s"got $rows")
    // multi-key fby still works in WHERE position (comma is unambiguous)
    val n = KerfSql.run(spark,
      "select k, v from fbyg_v where v = max(v) by k, b").count()
    assert(n == 3L, "per-(k,b) max keeps every singleton row")
  }

  test("cov/cor/wavg: pairwise deletion under mismatched null patterns") {
    import spark.implicits._
    // x null where y present and vice versa — the sums and the count
    // must cover the SAME row set (rows 3 complete pairs: (1,2) (2,4)
    // (3,6) → perfect correlation, cov over the pair set only)
    Seq((Some(1.0), Some(2.0)), (Some(2.0), Some(4.0)), (Some(3.0), Some(6.0)),
        (Some(100.0), None: Option[Double]), (None: Option[Double], Some(100.0)))
      .toDF("x", "y").createOrReplaceTempView("pw_v")
    val r = KerfSql.run(spark,
      "select cor(x, y) as cr, cov(x, y) as cv, wavg(x, y) as wa from pw_v").first()
    // pairwise pearson of an exact line is 1.0; the orphaned 100s must
    // not drag it (shared-denominator bug: cor left [-1,1] entirely)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12, s"cor=${r.getDouble(0)}")
    // pair-set population cov: E[xy]-E[x]E[y] = 28/3 - 2*4 = 4/3
    assert(math.abs(r.getDouble(1) - 4.0 / 3.0) < 1e-9, s"cov=${r.getDouble(1)}")
    // wavg masks weights whose value is null: (1*2+2*4+3*6)/(1+2+3),
    // NOT /(1+2+3+100)
    assert(math.abs(r.getDouble(2) - 28.0 / 6.0) < 1e-9, s"wavg=${r.getDouble(2)}")
    // single-column var/dev keep their own count (unchanged semantics)
    val v = KerfSql.run(spark, "select var(x) as vr from pw_v").first().getDouble(0)
    // over {1,2,3,100}: mean 26.5, E[x^2] = (1+4+9+10000)/4 = 2503.5
    assert(math.abs(v - (2503.5 - 26.5 * 26.5)) < 1e-9, s"var=$v")
  }

  test("collect/ungroup: grouped vectors round-trip in lockstep; ragged is loud") {
    import spark.implicits._
    Seq((1L, 30L, 3.0), (1L, 10L, 1.0), (1L, 20L, 2.0),
        (2L, 10L, 7.0), (2L, 20L, 7.0), (2L, 30L, 8.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("cg_v")
    // collect(x) sorts by value; collect(x, axis) orders by the axis
    val g = KerfSql.run(spark,
      "select k, collect(v, ts) as vs, collect(ts) as tss, collect(v) as sv " +
      "from cg_v group k order k").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Long](2), r.getSeq[Double](3)))
    assert(g(0) == ((1L, Seq(1.0, 2.0, 3.0), Seq(10L, 20L, 30L), Seq(1.0, 2.0, 3.0))))
    assert(g(1) == ((2L, Seq(7.0, 7.0, 8.0), Seq(10L, 20L, 30L), Seq(7.0, 7.0, 8.0))))
    // ungroup explodes every array column in lockstep, scalars repeat —
    // the collect round-trip reproduces the original rows
    val u = KerfSql.run(spark,
      "grp: select k, collect(ts) as ts, collect(v, ts) as v from cg_v group k; " +
      "ungroup grp")
    assert(u.columns.toSeq == Seq("k", "ts", "v"), u.columns.mkString(","))
    val back = u.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == Set((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (2L, 10L, 7.0), (2L, 20L, 7.0), (2L, 30L, 8.0)), s"round-trip drifted: $back")
    // `on` restricts which arrays explode (the rest stay vectors)
    val one = KerfSql.run(spark,
      "grp2: select k, collect(ts) as ts, collect(v, ts) as v from cg_v group k; " +
      "ungroup grp2 on ts")
    assert(one.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(one.count() == 6L)
    // ragged vectors in one row fail LOUDLY (q's 'length), never null-pad
    Seq((1L, Seq(1.0, 2.0), Seq(10L))).toDF("k", "a", "b")
      .createOrReplaceTempView("cg_rag")
    val e = intercept[Exception] { KerfSql.run(spark, "ungroup cg_rag").collect() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("ragged"), s"wrong error: ${chain(e)}")
    // a non-array column named in `on` is rejected at parse time
    intercept[IllegalArgumentException] { KerfSql.run(spark, "ungroup cg_v on v") }
    // an ALL-NULL row contributes no rows (null vector ~ empty, q's
    // convention) — it must NOT trip the rag guard; a null NEXT TO a
    // non-empty vector IS ragged (size 0 vs n)
    Seq((1L, Some(Seq(1.0, 2.0)), Some(Seq(10L, 20L))),
        (2L, Option.empty[Seq[Double]], Option.empty[Seq[Long]]))
      .toDF("k", "a", "b").createOrReplaceTempView("cg_nulls")
    val nn = KerfSql.run(spark, "ungroup cg_nulls").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(nn == Set((1L, 1.0, 10L), (1L, 2.0, 20L)), s"all-null row: $nn")
    Seq((1L, Option.empty[Seq[Double]], Some(Seq(10L))))
      .toDF("k", "a", "b").createOrReplaceTempView("cg_nullrag")
    val en = intercept[Exception] { KerfSql.run(spark, "ungroup cg_nullrag").collect() }
    assert(chain(en).contains("ragged"), s"null-vs-nonempty: ${chain(en)}")
  }

  test("top: N per group equals the API window; WindowGroupLimit partial limits") {
    import spark.implicits._
    Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 9.0), (1L, 13L, 1.0),
        (2L, 20L, 3.0))
      .toDF("k", "id", "v").createOrReplaceTempView("top_v")
    val got = KerfSql.run(spark, "top top_v by k at 2 order -v, id")
    val rows = got.orderBy(col("k"), col("v").desc, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // ties break on id: both 9.0 rows win, the 5.0 loses
    assert(rows == Seq((1L, 11L, 9.0), (1L, 12L, 9.0), (2L, 20L, 3.0)), s"got $rows")
    // the at-scale shape: the row_number filter must rewrite to
    // WindowGroupLimit partial limits (per-partition top-N BEFORE the
    // shuffle), never a full sort of every row
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "top top_v by k at 0 order -v")
    }
  }

  test("med: q's median == pctl(x, 0.5), grouped and global") {
    import spark.implicits._
    Seq(("a", 1.0), ("a", 3.0), ("a", 10.0), ("b", 2.0), ("b", 4.0))
      .toDF("k", "v").createOrReplaceTempView("med_v")
    val g = KerfSql.run(spark,
      "select k, med(v) as m, pctl(v, 0.5) as p from med_v group k order k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(g == Seq(("a", 3.0, 3.0), ("b", 3.0, 3.0)), s"got $g")
    val tot = KerfSql.run(spark, "select med(v) as m from med_v")
      .first().getDouble(0)
    assert(tot == 3.0)
  }

  test("explain select: the formatted physical plan from the text surface") {
    import spark.implicits._
    Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v").createOrReplaceTempView("ex_t")
    val plan = KerfSql.run(spark,
      "explain select k, sum(v) as s from ex_t where k > 0 group k")
      .first().getString(0)
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"),
      s"no aggregate in plan:\n$plan")
    // note: the local-relation filter constant-folds away — the point
    // here is the plan WINDOW itself, and on parquet tables the same
    // verb shows PushedFilters (PlanSpec pins those on real scans)
    assert(plan.contains("Exchange"), s"no exchange in plan:\n$plan")
  }

  test(">> delivery formats: jsonl and csv shards round-trip") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
      .createOrReplaceTempView("fmt_t")
    KerfSql.run(spark, s"fmt_t >> '$base/j' jsonl")
    val j = spark.read.json(s"$base/j")
      .select("id", "k", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(j == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // the on-disk bytes ARE JSONL (one object per line)
    val line = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$base/j").listFiles()
        .filter(_.getName.endsWith(".json")).head.toPath), "UTF-8")
      .split("\n").head
    assert(line.startsWith("{") && line.endsWith("}"), s"not JSONL: $line")
    KerfSql.run(spark, s"fmt_t >> '$base/c' csv")
    val c = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$base/c")
      .select("id", "k", "v").orderBy("id")
      .collect().map(r => (r.getInt(0).toLong, r.getString(1), r.getDouble(2))).toSeq
    assert(c == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("rollup dialect: append folds partials atomically; read returns the maintained aggregate") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_rollup_dialect").toString
    Seq(("a", 1.0), ("a", 3.0), ("b", 2.0)).toDF("k", "v")
      .createOrReplaceTempView("ru_b1")
    Seq(("a", 5.0), ("c", 7.0)).toDF("k", "v").createOrReplaceTempView("ru_b2")
    KerfSql.run(spark, s"rollup '$path' append ru_b1 by k on v")
    val got = KerfSql.run(spark,
      s"r2: rollup '$path' append ru_b2 by k on v; " +
      "select k, n_rows, v_sum from r2 order k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSeq
    assert(got == Seq(("a", 3L, 9.0), ("b", 1L, 2.0), ("c", 1L, 7.0)), s"got $got")
    // bare read face returns the same maintained table
    val rd = KerfSql.run(spark, s"rollup '$path'")
    assert(rd.count() == 3L)
    // anything other than the bare read or the append form is loud
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, s"rollup '$path' compact")
    }
  }

  test("in / not in: the membership predicate over expression lists") {
    import spark.implicits._
    Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
      .toDF("k", "v").createOrReplaceTempView("in_v")
    val got = KerfSql.run(spark,
      "select k from in_v where k in ('a', 'c') order k")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "c"))
    val not = KerfSql.run(spark,
      "select k from in_v where k not in ('a', 'c') order k")
      .collect().map(_.getString(0)).toSeq
    assert(not == Seq("b", "d"))
    // values are full expressions, and the predicate composes
    val ex = KerfSql.run(spark,
      "select k from in_v where v in (1 + 1, 8 / 2) and k != 'z' order k")
      .collect().map(_.getString(0)).toSeq
    assert(ex == Seq("b", "d"))
  }

  test("bpe/bpetrain dialect: verb == API, loud malformed-model errors") {
    import spark.implicits._
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      .createOrReplaceTempView("bpe_docs")
    // train from the dialect == API train (same corpus, same rules)
    val m = KerfSql.run(spark, "bpetrain bpe_docs on text at 6")
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(m == Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w"), ("e", "w")), s"dialect-trained merges: $m")
    // the full train→deploy loop from text: assignment registers the
    // model view, bpe … using consumes it
    val got = KerfSql.run(spark,
      "m: bpetrain bpe_docs on text at 6; " +
      "b: bpe bpe_docs by doc_id on text using m; " +
      "select doc_id, n_words, n_tokens from b where doc_id = 7")
      .first()
    assert((got.getLong(1), got.getLong(2)) == ((1L, 3L)))  // newest → 3 tokens
    // malformed model tables are loud
    Seq((0L, "a")).toDF("rank", "left").createOrReplaceTempView("bpe_badm")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "bpe bpe_docs by doc_id on text using bpe_badm")
    }
    assert(e.getMessage.contains("rank, left, right"), e.getMessage)
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "bpetrain bpe_docs on text at 0")
    }
  }

  test("differs: q's differ — run boundaries down the (group, order) axes") {
    import spark.implicits._
    Seq((1L, 10L, Some(1.0)), (1L, 20L, Some(1.0)), (1L, 30L, Some(2.0)),
        (2L, 10L, None: Option[Double]), (2L, 20L, None: Option[Double]),
        (2L, 30L, Some(5.0)))
      .toDF("k", "ts", "v").createOrReplaceTempView("dif_v")
    val got = KerfSql.run(spark,
      "select k, ts, differs(v) as chg from dif_v group k order ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq(
      (1L, 10L, true),   // first row opens a run
      (1L, 20L, false),  // 1.0 → 1.0: same
      (1L, 30L, true),   // 1.0 → 2.0: change
      (2L, 10L, true),   // first row — even a null one
      (2L, 20L, false),  // null → null is NOT a change (null-safe)
      (2L, 30L, true)),  // null → 5.0 is
      s"got $got")
    // the run-count idiom: stage the flags, then sums is the run id
    // (nesting one window verb in another would nest window functions)
    val runs = KerfSql.run(spark,
      "d: select k, ts, differs(v) as chg from dif_v group k order ts; " +
      "select k, ts, sums(chg) as run from d group k order ts")
    val r = runs.collect().map(x => (x.getLong(0), x.getLong(2))).toSeq
    assert(r == Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L), (2L, 2L)),
      s"run ids: $r")
  }

  test("pivot: enumerated domain == groupBy.pivot API; absent cells null") {
    import spark.implicits._
    Seq(("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 5.0), ("b", "y", 7.0))
      .toDF("k", "p", "v").createOrReplaceTempView("pv_t")
    val got = KerfSql.run(spark,
      "w: pivot pv_t by k on p in ('x', 'y', 'z') agg sum(v); " +
      "select * from w order k")
    assert(got.columns.toSeq == Seq("k", "x", "y", "z"))
    val rows = got.collect().map(r => (r.getString(0),
      (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))).toSeq
    // 'z' never occurs → all-null column; (b, x) absent → null cell
    assert(rows == Seq(
      ("a", Seq(Some(3.0), Some(5.0), None)),
      ("b", Seq(None, Some(7.0), None))))
    val want = spark.table("pv_t").groupBy("k").pivot("p", Seq("x", "y", "z"))
      .agg(sum(col("v"))).orderBy("k")
    assert(got.collect().toSeq == want.collect().toSeq)
    // numeric pivot axis: bare literals enumerate the domain
    Seq(("a", 1L, 2.0), ("a", 2L, 3.0), ("b", 1L, 5.0))
      .toDF("k", "ln", "v").createOrReplaceTempView("pvn_t")
    val num = KerfSql.run(spark,
      "w: pivot pvn_t by k on ln in (1, 2) agg sum(v); select * from w order k")
    assert(num.columns.toSeq == Seq("k", "1", "2"))
    assert(num.collect().map(r => (r.getString(0),
      if (r.isNullAt(1)) None else Some(r.getDouble(1)),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq ==
      Seq(("a", Some(2.0), Some(3.0)), ("b", Some(5.0), None)))
    // non-literal values and unknown aggregates are loud
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "pivot pv_t by k on p in (x) agg sum(v)")
    }
    intercept[IllegalArgumentException] {
      KerfSql.run(spark, "pivot pv_t by k on p in ('x') agg countd(v)")
    }
  }

  test("unpivot: melt is pivot's exact inverse, null cells survive") {
    import spark.implicits._
    Seq(("a", "x", 1.0), ("a", "y", 5.0), ("b", "y", 7.0))
      .toDF("k", "p", "v").createOrReplaceTempView("upv_t")
    val got = KerfSql.run(spark,
      "w: pivot upv_t by k on p in ('x', 'y') agg sum(v); " +
      "long: unpivot w by k on (x, y) as p, v; " +
      "select k, p, v from long order k, p")
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // (b, x) was an absent cell → it comes back as a NULL row, not lost
    assert(got == Seq(
      ("a", "x", Some(1.0)), ("a", "y", Some(5.0)),
      ("b", "x", None), ("b", "y", Some(7.0))))
    // round trip: re-pivoting the melt equals the original wide frame
    val again = KerfSql.run(spark,
      "w2: pivot upv_t by k on p in ('x', 'y') agg sum(v); " +
      "l2: unpivot w2 by k on (x, y) as p, v; " +
      "w3: pivot l2 by k on p in ('x', 'y') agg sum(v); " +
      "select * from w3 order k")
    val orig = KerfSql.run(spark,
      "w4: pivot upv_t by k on p in ('x', 'y') agg sum(v); " +
      "select * from w4 order k")
    assert(again.collect().toSeq == orig.collect().toSeq)
  }

  // --- String family (SURVEY §2.8 string row — the adopted
  // substring/like/regexp surface with q/k verb names)

  test("string verbs: substr is 0-based, replace literal, ssr regex") {
    assert(evalOne("substr('abcdef', 2)") == "cdef")
    assert(evalOne("substr('abcdef', 0, 3)") == "abc")
    assert(evalOne("substr('abcdef', 4, 10)") == "ef") // over-length clamps
    assert(evalOne("replace('a.b.c', '.', '--')") == "a--b--c")
    assert(evalOne("ssr('a1b22c', '[0-9]+', '#')") == "a#b#c") // EVERY match
  }

  test("string verbs: find on strings is 0-based ss; absent = length") {
    assert(evalOne("find('abcd', 'cd')") == 2L)
    assert(evalOne("find('abcd', 'xy')") == 4L) // exhausted cursor = length
    assert(evalOne("find('abcd', 'abcd')") == 0L)
  }

  test("string verbs: split is LITERAL (regex metachars split literally)") {
    assert(evalOne("split('a.b.c', '.')") == Seq("a", "b", "c"))
    assert(evalOne("split('a|b|c', '|')") == Seq("a", "b", "c"))
    assert(evalOne("length(split('x y z', ' '))") == 3L)
  }

  test("string verbs: trim family and pads") {
    assert(evalOne("trim('  pad  ')") == "pad")
    assert(evalOne("ltrim('  pad  ')") == "pad  ")
    assert(evalOne("rtrim('  pad  ')") == "  pad")
    assert(evalOne("lpad('7', 3, '0')") == "007")
    assert(evalOne("rpad('ab', 5, '.')") == "ab...")
    assert(evalOne("lpad('abcdef', 3, '0')") == "abc") // truncates to len
  }

  test("like / not like predicates and rlike") {
    import spark.implicits._
    Seq(("cold widget", 1L), ("small gadget", 2L), ("green gizmo", 3L))
      .toDF("name", "id").createOrReplaceTempView("lk_v")
    val got = KerfSql.run(spark,
      "select id from lk_v where name like '%g_dget%' order id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L))
    val got2 = KerfSql.run(spark,
      "select id from lk_v where name not like '%widget%' order id")
      .collect().map(_.getLong(0)).toSeq
    assert(got2 == Seq(2L, 3L))
    val got3 = KerfSql.run(spark,
      "select id, rlike(name, 'g(adget|izmo)') as g from lk_v order id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(got3 == Seq((1L, false), (2L, true), (3L, true)))
  }

  test("like composes with and/or and in-predicates in one where") {
    import spark.implicits._
    Seq(("cold widget", "A", 1L), ("warm widget", "B", 2L),
        ("green gizmo", "A", 3L))
      .toDF("name", "grp", "id").createOrReplaceTempView("lkc_v")
    val got = KerfSql.run(spark,
      "select id from lkc_v where name like '%widget%' and grp in ('A') " +
      "order id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("delete columns: q's column drop; unknown/all-columns fail loudly") {
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "k", "v")
      .createOrReplaceTempView("delc_v")
    val got = KerfSql.run(spark,
      "slim: delete k from delc_v; select id, v from slim order id")
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 2.0), (2L, 3.0)))
    val e1 = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "delete nope from delc_v")
    }
    assert(e1.getMessage.contains("no such column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "delete id, k, v from delc_v")
    }
    assert(e2.getMessage.contains("every column"), e2.getMessage)
    // the row form still works with the same head
    val rows = KerfSql.run(spark,
      "delete from delc_v where id = 1").count()
    assert(rows == 1L)
  }

  test("meta: one row per column in table order — name, type, nullable") {
    import spark.implicits._
    Seq((1L, "a", 2.0)).toDF("id", "k", "v").createOrReplaceTempView("meta_v")
    val got = KerfSql.run(spark, "meta meta_v")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("id", "bigint"), ("k", "string"), ("v", "double")))
    // assignable like any table-valued verb
    val n = KerfSql.run(spark,
      "m: meta meta_v; select count(*) as n from m").collect()(0).getLong(0)
    assert(n == 3L)
  }

  test("casts: long truncates toward zero; string parses null on junk") {
    assert(evalOne("long(2.7)") == 2L)
    assert(evalOne("long(0 - 2.7)") == -2L) // toward zero, not floor
    assert(evalOne("long('42')") == 42L)
    assert(evalOne("long('nope')") == null)
    assert(evalOne("double('2.5')") == 2.5)
    assert(evalOne("double(3)") == 3.0)
    assert(evalOne("string(7)") == "7")
    assert(evalOne("long(string(123456789012345))") == 123456789012345L)
    // numeric casts pervade through lists like the math verbs
    assert(evalOne("long([1.9, 2.1])") == Seq(1L, 2L))
  }

  test("stamp/nanos bridge the ns-long and TimestampType faces exactly") {
    // 2024-01-05T00:00:00.123456789 → stamp truncates to µs; nanos
    // returns the µs-grid ns epoch
    val ns = 1704412800123456789L
    assert(evalOne(s"nanos(stamp($ns))") == 1704412800123456000L)
    val ts = evalOne(s"stamp($ns)")
    assert(ts.isInstanceOf[java.sql.Timestamp])
    // a string parse round-trips through the ISO form
    assert(evalOne("nanos(stamp('2024-01-05 00:00:00'))") ==
      1704412800L * 1000000000L)
    assert(evalOne("stamp('garbage')") == null)
    // PRE-EPOCH ns floor to the µs grid: the instant −1500ns lies
    // inside microsecond −2 — trunc-toward-zero would round it toward
    // the epoch (µs −1), the opposite direction from RemoteEval's
    // Math.floorDiv wire bridge
    assert(evalOne("nanos(stamp(0 - 1500))") == -2000L)
    assert(evalOne("nanos(stamp(0 - 1000))") == -1000L) // exact grid point
    assert(evalOne("nanos(stamp(1500))") == 1000L)      // post-epoch unchanged
  }

  test("stamp attribute indexing: ts['year'] family (Kerf1 accessor face)") {
    // 2024-03-05T14:30:45.123456 UTC — a Tuesday, day-of-year 65
    val e = "stamp(1709649045123456789)"
    assert(evalOne(s"$e['year']") == 2024L)
    assert(evalOne(s"$e['month']") == 3L)
    assert(evalOne(s"$e['day']") == 5L)
    assert(evalOne(s"$e['hour']") == 14L)
    assert(evalOne(s"$e['minute']") == 30L)
    assert(evalOne(s"$e['second']") == 45L)
    assert(evalOne(s"$e['ms']") == 123L)
    assert(evalOne(s"$e['us']") == 123456L)
    assert(evalOne(s"$e['dow']") == 2L)  // ISO: Tuesday
    assert(evalOne(s"$e['doy']") == 65L)
    assert(evalOne(s"$e['date']").toString == "2024-03-05")
    val err = intercept[IllegalArgumentException] {
      evalOne(s"$e['century']")
    }
    assert(err.getMessage.contains("stamp attribute"), err.getMessage)
  }

  test("ns-exact temporal literals: nanos('…') keeps sub-µs digits; unquoted sub-µs is loud") {
    import spark.implicits._
    val want = java.time.LocalDateTime.parse("2024-01-05T12:34:56")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + 123456789L
    // the ns-lane literal: full 9-digit fraction survives (a µs
    // TimestampType round-trip would drop the trailing 789)
    assert(evalOne("nanos('2024.01.05T12:34:56.123456789')") == want)
    assert(evalOne("nanos('2024-01-05T12:34:56.123456789')") == want)
    // pre-1970: floor-second + non-negative fraction
    assert(evalOne("nanos('1969.12.31T23:59:59.999999999')") == -1L)
    // date-only / month / year stamps land on their midnight grid
    assert(evalOne("nanos('2024.01.05')") ==
      evalOne("nanos(2024.01.05)"))
    // an UNQUOTED sub-µs literal lives on the µs lane and must error
    // loudly (silent truncation is the trap), naming the ns spelling
    val e = intercept[IllegalArgumentException] {
      evalOne("nanos(2024.01.05T12:34:56.123456789)")
    }
    assert(e.getMessage.contains("sub-microsecond") &&
      e.getMessage.contains("nanos('"), e.getMessage)
    // µs-precision unquoted literals keep working via the stamp lane
    assert(evalOne("nanos(2024.01.05T12:34:56.123456)") == want - 789L)
    // a string COLUMN (ns-precision ingest) parses with the fraction as
    // integer digits — sub-µs bits never touch a timestamp
    Seq("2024-01-05 12:34:56.000000300", "2024-01-05 12:34:56",
        "not a stamp", "2024-01-05 12:34:56.1234567891")
      .toDF("s").createOrReplaceTempView("nslit_t")
    val base = want - 123456789L
    val got = KerfSql.run(spark, "select nanos(s) as n from nslit_t order n")
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    // malformed rows are null (the stamp(string) try_cast posture;
    // nulls sort first in the dialect's order) — and so is a >9-digit
    // fraction: sub-ns input must NOT silently truncate to a confident
    // ns value in a lane whose whole contract is exactness
    assert(got == Seq(null, null, base, base + 300L), s"got $got")
    // mixed separators are a typo, not a third grammar: dotted Kerf
    // forms and dashed ISO both parse, '2024.01-05' does not
    val mixed = intercept[IllegalArgumentException] {
      evalOne("nanos('2024.01-05T00:00:00.5')")
    }
    assert(mixed.getMessage.contains("mixed separators"), mixed.getMessage)
  }

  test("ns-lane date-part family: pure long math, sub-µs exact, pre-1970 floor-correct") {
    import spark.implicits._
    // 2024-03-05T14:30:45.123456789 (sub-µs tail), one tick BEFORE the
    // epoch (floor semantics, not truncate-toward-zero), and a sub-µs-
    // only value — each part independently derivable via java.time
    val axes = Seq(1709649045123456789L, -1L, 997L)
    axes.toDF("ts_ns").createOrReplaceTempView("ns_attr_t")
    val got = KerfSql.run(spark,
      "select ts_ns, ts_ns['hour'] as h, ts_ns['minute'] as mi, " +
      "ts_ns['second'] as s, ts_ns['ms'] as ms, ts_ns['us'] as us, " +
      "ts_ns['ns'] as nn, ts_ns['year'] as y from ns_attr_t order ts_ns")
    // no TimestampType round-trip for the SUB-DAY parts: the sub-µs
    // columns must come from pure long arithmetic (the 'year' column is
    // the one place a µs cast is allowed — it discards sub-day anyway)
    val subDay = KerfSql.run(spark,
      "select ts_ns['hour'] as h, ts_ns['ns'] as nn from ns_attr_t")
    assert(!subDay.queryExecution.analyzed.toString.toLowerCase
        .contains("timestamp"),
      "sub-day ns attributes must never touch TimestampType")
    got.collect().foreach { r =>
      val t = r.getLong(0)
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(t, 1000000000L), Math.floorMod(t, 1000000000L))
      val z = inst.atZone(java.time.ZoneOffset.UTC)
      assert(r.getLong(1) == z.getHour.toLong, s"hour of $t")
      assert(r.getLong(2) == z.getMinute.toLong, s"minute of $t")
      assert(r.getLong(3) == z.getSecond.toLong, s"second of $t")
      assert(r.getLong(4) == z.getNano / 1000000L, s"ms of $t")
      assert(r.getLong(5) == z.getNano / 1000L, s"us of $t")
      assert(r.getLong(6) == z.getNano.toLong, s"ns of $t")
      assert(r.getLong(7) == z.getYear.toLong, s"year of $t")
    }
    // hourly bars on the raw axis: pure long floor (negative included)
    val bars = KerfSql.run(spark,
      "select ts_ns, bars(1h, ts_ns) as bar from ns_attr_t order ts_ns")
    bars.collect().foreach { r =>
      assert(r.getLong(1) == Math.floorDiv(r.getLong(0), 3600000000000L)
        * 3600000000000L, s"bar of ${r.getLong(0)}")
    }
    val err = intercept[IllegalArgumentException] {
      KerfSql.run(spark, "select ts_ns['century'] as c from ns_attr_t")
    }
    assert(err.getMessage.contains("ns-stamp attribute"), err.getMessage)
  }

  test("bigint: DECIMAL(38,0) exactness past int64 and double (A_BIGINT_UNIT face)") {
    // 2^63 ≈ 9.22e18: long wraps, double rounds, bigint carries digits
    assert(evalOne("string(bigint('9223372036854775807') + 1)")
      == "9223372036854775808")
    assert(evalOne("string(bigint(9000000000000000000) * 1000)")
      == "9000000000000000000000")
    // a 30-digit literal round-trips through arithmetic exactly
    assert(evalOne("string(bigint('123456789012345678901234567890') - 90)")
      == "123456789012345678901234567800")
    // malformed digit strings are null (the try_cast posture), not a crash
    assert(evalOne("bigint('not a number')") == null)
    // doubles are rejected LOUDLY — no silent binary rounding into the
    // exact family
    val e = intercept[IllegalArgumentException] { evalOne("bigint(1.5)") }
    assert(e.getMessage.contains("inexact"), e.getMessage)
  }

  test("countd mixes with window verbs → the friendly dialect error") {
    import spark.implicits._
    Seq(("a", 1L, 2L)).toDF("k", "ts", "v").createOrReplaceTempView("cdm_v")
    val e = intercept[IllegalArgumentException] {
      KerfSql.run(spark,
        "select k, sums(v) as run, countd(v) as d from cdm_v group k order ts")
    }
    assert(e.getMessage.contains("cannot mix"), s"wrong error: ${e.getMessage}")
  }

  test("fromjson single-arg inference == explicit DDL on a uniform column; guards are loud") {
    import spark.implicits._
    Seq((1L, """{"k": 3, "tag": "a"}"""), (2L, """{"k": 7, "tag": "b"}"""),
        (3L, """{"k": 4, "tag": "a"}"""))
      .toDF("id", "props").createOrReplaceTempView("docs_infer")
    // the inferred face answers exactly like the explicit-DDL face
    // (inference widens ints to bigint — DDL says so too)
    val got = KerfSql.run(spark,
      "select id, fromjson(props).k as k, fromjson(props).tag as tag " +
      "from docs_infer order id")
    val want = KerfSql.run(spark,
      "select id, fromjson(props, 'k bigint, tag string').k as k, " +
      "fromjson(props, 'k bigint, tag string').tag as tag " +
      "from docs_infer order id")
    assert(got.collect().toSeq == want.collect().toSeq)
    // nothing inferable (all null) is loud, not a null-typed struct
    Seq((1L, null: String), (2L, null: String))
      .toDF("id", "props").createOrReplaceTempView("docs_infer_null")
    val e1 = intercept[Exception] {
      KerfSql.run(spark, "select fromjson(props).k from docs_infer_null")
    }
    assert(e1.getMessage.contains("nothing inferable"), e1.getMessage)
    // inference samples ONE source table: a two-table join is ambiguous
    // and must demand the DDL face instead
    spark.table("docs_infer").createOrReplaceTempView("docs_infer2")
    val e2 = intercept[Exception] {
      KerfSql.run(spark,
        "select fromjson(props).k as k from docs_infer join docs_infer2 on id")
    }
    assert(e2.getMessage.contains("exactly one"), e2.getMessage)
  }

  test("mutation statements are loud on trailing tokens, arity drift, and resolve defs") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .createOrReplaceTempView("mut_t")
    // trailing tokens after the where were SILENTLY dropped before
    val e1 = intercept[Exception] {
      KerfSql.run(spark, "update mut_t set v = 0.0 where k = 1 limit 10")
    }
    assert(e1.getMessage.contains("trailing"), e1.getMessage)
    val e2 = intercept[Exception] {
      KerfSql.run(spark, "delete from mut_t where k = 1 order k")
    }
    assert(e2.getMessage.contains("trailing"), e2.getMessage)
    // VALUES arity: a long row silently lost its extra value; short rows
    // died mid-job — both are parse-site errors now
    val e3 = intercept[Exception] {
      KerfSql.run(spark, "insert into mut_t values (1, 2, 3)")
    }
    assert(e3.getMessage.contains("column"), e3.getMessage)
    val e4 = intercept[Exception] {
      KerfSql.run(spark, "insert into mut_t values (1)")
    }
    assert(e4.getMessage.contains("column"), e4.getMessage)
    // program defs resolve inside update/delete expressions
    val got = KerfSql.run(spark,
      "def bump(x) { x + 5 }; update mut_t set v = bump(v) where k = 1")
      .orderBy("k").select("v").as[Double].collect().toSeq
    assert(got == Seq(15.0, 20.0), s"got $got")
  }

  test("auto-aliases never collide; stamp-stamp is a ns span; avg of empty is null") {
    import spark.implicits._
    Seq((3L, 1L)).toDF("a", "b").createOrReplaceTempView("alias_t")
    // `a + b` and `a - b` both sanitized to a___b before — ambiguous
    val cols = KerfSql.run(spark,
      "select a + b, a - b, a * b from alias_t").columns.toSeq
    assert(cols.distinct.size == 3, s"alias collision: $cols")
    // t - t is a FIXED-NS span (test.cc:299), not a mislabeled timestamp
    val d = KerfSql.run(spark,
      "select 2024.01.05 - 2024.01.03 as gap from alias_t")
      .first().getLong(0)
    assert(d == 2L * 24 * 3600 * 1000000000L, s"gap = $d")
    intercept[Exception] {
      KerfSql.run(spark, "select 2024.01.05 + 2024.01.03 as nope from alias_t")
    }
    // mean of an empty list is MISSING, not 0.0
    val r = KerfSql.run(spark, "avg(til 0)").collect()(0)
    assert(r.isNullAt(0), s"avg(til 0) = ${r.get(0)}")
    assert(KerfSql.run(spark, "avg(til 4)").first().getDouble(0) == 1.5)
  }
}
