package graft

import org.apache.spark.sql.functions._
import graft.sources.{RemoteFolioSource, RemoteTableServer}

/** The socket-federated folio member (/root/reference/presented.h:427–430):
  * a RemoteTableServer serves parquet over the wire, the DSv2 client reads
  * it back. Pins: exact round-trip parity (values, schema, arrays), remote
  * projection + filter execution (measured in rows actually SHIPPED, not
  * plan strings), fragment-level parallelism, conservative filter
  * semantics, and the `remote://` location inside federatedRead. */
class RemoteFolioSpec extends SparkSpec {

  private lazy val server =
    RemoteTableServer.start(spark, Map(
      "customer"   -> s"$sf/customer.parquet",
      "embeddings" -> s"$sf/embeddings.parquet"))

  private def remoteRead(table: String) =
    spark.read.format("graft.sources.RemoteFolioSource")
      .option("endpoint", s"127.0.0.1:${server.port}")
      .option("table", table).load()

  // ── Kerf IPC: remote program EVAL (the rexec verb's transport) ──

  private lazy val evalServer =
    RemoteTableServer.start(spark, Map(
      "customer" -> s"$sf/customer.parquet"), enableEval = true)

  test("rexec: program evaluates REMOTELY, value comes back exactly") {
    val got = graft.sql.KerfSql.run(spark,
      s"r: rexec '${evalServer.evalHandle}' " +
      "'select c_mktsegment, count(*) as n, sum(c_acctbal) as bal " +
      "from customer group c_mktsegment order c_mktsegment'; " +
      "select * from r order c_mktsegment")
    val want = spark.read.parquet(s"$sf/customer.parquet")
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.count(
             org.apache.spark.sql.functions.lit(1)).as("n"),
           org.apache.spark.sql.functions.sum("c_acctbal").as("bal"))
      .orderBy("c_mktsegment")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("rexec: quoted literals inside the shipped program ('' escape)") {
    val got = graft.sql.KerfSql.run(spark,
      s"rexec '${evalServer.evalHandle}' " +
      "'select count(*) as n from customer where c_mktsegment = " +
      "''FURNITURE'''")
      .collect()(0).getLong(0)
    val want = spark.read.parquet(s"$sf/customer.parquet")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "FURNITURE")
      .count()
    assert(got == want && got > 0)
  }

  test("rexec: the eval site's child session keeps the engine's class sharing and filesystem") {
    val es = evalServer.evalSession.get
    assert(es ne spark)
    assert(es.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), es.sessionState.newHadoopConf()).getDefaultFileSystem
    assert(fc.isInstanceOf[graft.io.LocalFs.Context], fc.getClass)
  }

  test("rexec: remote errors surface with the site named") {
    val e = intercept[RuntimeException] {
      graft.sql.KerfSql.run(spark,
        s"rexec '${evalServer.evalHandle}' 'select nope from customer'")
        .collect()
    }
    assert(e.getMessage.contains("rexec failed"), e.getMessage)
  }

  test("rexec: eval refused when not enabled; result-size cap is loud") {
    val noEval = RemoteTableServer.start(spark,
      Map("customer" -> s"$sf/customer.parquet"))
    try {
      val e = intercept[RuntimeException] {
        graft.sql.KerfSql.run(spark,
          s"rexec '127.0.0.1:${noEval.port}' 'select count(*) as n from customer'")
          .collect()
      }
      assert(e.getMessage.contains("not enabled"), e.getMessage)
    } finally noEval.stop()
    val before = RemoteTableServer.maxEvalRows
    RemoteTableServer.maxEvalRows = 3
    try {
      val e2 = intercept[RuntimeException] {
        graft.sql.KerfSql.run(spark,
          s"rexec '${evalServer.evalHandle}' " +
          "'select c_custkey from customer order c_custkey'")
          .collect()
      }
      assert(e2.getMessage.contains("exceeds 3 rows"), e2.getMessage)
    } finally RemoteTableServer.maxEvalRows = before
  }

  test("rexec: eval authenticates — missing or wrong token is refused, right one serves") {
    // the threat (ADVICE r13): eval executes arbitrary dialect programs
    // (file verbs included), so a loopback process WITHOUT the handle's
    // shared secret must get a refusal, never an evaluation
    val missing = intercept[RuntimeException] {
      graft.sql.KerfSql.run(spark,
        s"rexec '127.0.0.1:${evalServer.port}' 'select count(*) as n from customer'")
        .collect()
    }
    assert(missing.getMessage.contains("token"), missing.getMessage)
    val wrong = intercept[RuntimeException] {
      graft.sql.KerfSql.run(spark,
        s"rexec '127.0.0.1:${evalServer.port}:gdeadbeef' " +
        "'select count(*) as n from customer'")
        .collect()
    }
    assert(wrong.getMessage.contains("token"), wrong.getMessage)
    // operator-supplied token works through the same handle shape
    val tok = RemoteTableServer.start(spark,
      Map("customer" -> s"$sf/customer.parquet"),
      enableEval = true, evalToken = "gsecret")
    try {
      assert(tok.evalHandle == s"127.0.0.1:${tok.port}:gsecret")
      val n = graft.sql.KerfSql.run(spark,
        s"rexec '${tok.evalHandle}' 'select count(*) as n from customer'")
        .collect()(0).getLong(0)
      assert(n == spark.read.parquet(s"$sf/customer.parquet").count())
    } finally tok.stop()
  }

  test("rexec: timestamps cross the wire on the us grid exactly") {
    val evDir = s"$sf/events.parquet"
    val srv = RemoteTableServer.start(spark,
      Map("ev" -> evDir), enableEval = true)
    try {
      val got = graft.sql.KerfSql.run(spark,
        s"rexec '${srv.evalHandle}' " +
        "'select event_id, ts from ev order event_id limit 5'")
      val want = spark.read.parquet(evDir)
        .select("event_id", "ts").orderBy("event_id").limit(5)
      assert(got.collect().toSeq == want.collect().toSeq)
    } finally srv.stop()
  }

  test("rexec scatter: same program to N sites, union; drift is loud") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("rexsc").toString
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.filter(col("c_custkey") % 2 === 0).write.parquet(s"$base/a")
    cust.filter(col("c_custkey") % 2 =!= 0).write.parquet(s"$base/b")
    val sa = RemoteTableServer.start(spark, Map("c" -> s"$base/a"), enableEval = true)
    val sb = RemoteTableServer.start(spark, Map("c" -> s"$base/b"), enableEval = true)
    try {
      val got = graft.sql.KerfSql.run(spark,
        s"p: rexec ['${sa.evalHandle}', '${sb.evalHandle}'] " +
        "'select c_mktsegment, count(*) as n from c group c_mktsegment'; " +
        "select c_mktsegment, sum(n) as n from p group c_mktsegment " +
        "order c_mktsegment")
      val want = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
      assert(got.collect().toSeq == want.collect().toSeq)
      // a site answering a DIFFERENT schema is a loud error naming it
      val sn = RemoteTableServer.start(spark,
        Map("c" -> s"$sf/nation.parquet"), enableEval = true)
      try {
        val e = intercept[IllegalArgumentException] {
          graft.sql.KerfSql.run(spark,
            s"rexec ['${sa.evalHandle}', '${sn.evalHandle}'] " +
            "'select * from c'").collect()
        }
        assert(e.getMessage.contains("different schema"), e.getMessage)
      } finally sn.stop()
    } finally { sa.stop(); sb.stop() }
  }

  test("remote scan == local scan, values and schema (customer)") {
    val local = spark.read.parquet(s"$sf/customer.parquet")
    val remote = remoteRead("customer")
    assert(remote.schema == local.schema)
    val l = local.orderBy("c_custkey").collect()
    val r = remote.orderBy("c_custkey").collect()
    assert(r.length == l.length && r.length > 0)
    assert(r.toSeq == l.toSeq)
  }

  test("array columns round-trip exactly (embeddings, list<float>)") {
    val local = spark.read.parquet(s"$sf/embeddings.parquet")
    val remote = remoteRead("embeddings")
    assert(remote.schema == local.schema)
    val l = local.orderBy("vec_id").collect()
    val r = remote.orderBy("vec_id").collect()
    assert(r.length == l.length && r.length > 0)
    assert(r.toSeq == l.toSeq) // float-exact: JSON round-trips shortest form
  }

  test("projection executes remotely: only requested columns cross the wire") {
    remoteRead("customer").select("c_custkey", "c_acctbal").collect()
    assert(server.lastScanColumns.get() == Seq("c_custkey", "c_acctbal"))
  }

  test("filters execute remotely: shipped rows shrink, answer unchanged") {
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_nationkey") === 5).count()
    val before = server.rowsSent.get()
    val got = remoteRead("customer").filter(col("c_nationkey") === 5).count()
    val shipped = server.rowsSent.get() - before
    assert(got == expect)
    assert(shipped < total, s"server shipped all $shipped rows — filter not applied remotely")
    assert(shipped >= expect) // conservative: never UNDER-ships
    // and the plan advertises the pushdown
    val plan = remoteRead("customer").filter(col("c_nationkey") === 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RemoteScan"))
  }

  test("count(*) works over a zero-column remote projection") {
    val expect = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(remoteRead("customer").count() == expect)
  }

  test("double boundary rows survive remote <=/>=/= (double-semantics compare)") {
    val local = spark.read.parquet(s"$sf/customer.parquet")
    // a REAL double from the data: its binary expansion differs from its
    // shortest decimal form, the exact shape that under-shipped when the
    // server compared decimals instead of doubles
    val boundary = local.select("c_acctbal").filter(col("c_acctbal") % 1 =!= 0)
      .orderBy("c_acctbal").collect()(5).getDouble(0)
    for (op <- Seq("le", "ge", "eq")) {
      val f = op match {
        case "le" => col("c_acctbal") <= boundary
        case "ge" => col("c_acctbal") >= boundary
        case "eq" => col("c_acctbal") === boundary
      }
      val want = local.filter(f).count()
      val got = remoteRead("customer").filter(f).count()
      assert(got == want, s"$op on $boundary: remote $got vs local $want")
      if (op == "eq") assert(want >= 1, "boundary row must exist for the pin to bite")
    }
  }

  test("string + IN filters remote-evaluate conservatively") {
    val local = spark.read.parquet(s"$sf/customer.parquet")
    val want = local.filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .agg(count(lit(1)), sum("c_custkey")).collect()(0)
    val got = remoteRead("customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .agg(count(lit(1)), sum("c_custkey")).collect()(0)
    assert(got == want)
  }

  test("one InputPartition per remote fragment (folio parallelism)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_frags").toString
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/cust4")
    val srv = RemoteTableServer.start(spark, Map("cust4" -> s"$dir/cust4"))
    try {
      val df = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "cust4").load()
      assert(df.rdd.getNumPartitions == 4)
      assert(df.count() == spark.read.parquet(s"$sf/customer.parquet").count())
    } finally srv.stop()
  }

  test("federatedRead mixes local and remote:// sites transparently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_fed").toString
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.filter(col("c_custkey") % 2 === 0).write.parquet(s"$dir/site_a")
    cust.filter(col("c_custkey") % 2 =!= 0).write.parquet(s"$dir/site_b")
    val srv = RemoteTableServer.start(spark, Map("site_b" -> s"$dir/site_b"))
    try {
      val fed = io.Folio.federatedRead(spark,
        Seq(s"$dir/site_a", s"remote://127.0.0.1:${srv.port}/site_b"),
        siteColumn = Some("site"))
      assert(fed.count() == cust.count())
      assert(fed.select("site").distinct().count() == 2)
      // identity is preserved: every key exactly once
      assert(fed.groupBy("c_custkey").count().filter(col("count") > 1).count() == 0)
      // aggregate over the federation == aggregate over the undivided table
      val a = fed.agg(sum("c_acctbal").cast("decimal(18,2)")).collect()(0)
      val b = cust.agg(sum("c_acctbal").cast("decimal(18,2)")).collect()(0)
      assert(a == b)
    } finally srv.stop()
  }

  test("aggregate pushdown: partials cross the wire, not rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_agg").toString
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/cust")
    val srv = RemoteTableServer.start(spark, Map("cust" -> s"$dir/cust"))
    try {
      val local = spark.read.parquet(s"$sf/customer.parquet")
      val remote = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "cust").load()
      val agg = (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("c_mktsegment").agg(
          count(lit(1)).as("n"), count(col("c_name")).as("n_name"),
          sum(col("c_custkey")).as("sum_key"),      // long sum: merge-order exact
          min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"),
          min(col("c_name")).as("min_name"))
          .orderBy("c_mktsegment")
      val before = srv.rowsSent.get()
      val got = agg(remote).collect().toSeq
      val shipped = srv.rowsSent.get() - before
      assert(got == agg(local).collect().toSeq)
      // ≤ fragments × segments partial rows, NOT the table's rows
      val nSeg = local.select("c_mktsegment").distinct().count()
      assert(shipped <= 4 * nSeg, s"shipped $shipped rows — aggregation not remote")
      assert(srv.lastScanAggregate.get().contains("groupBy=[c_mktsegment]"))
      // and the plan records it
      assert(agg(remote).queryExecution.optimizedPlan.toString.contains("pushedAggregate") ||
             srv.lastScanAggregate.get().nonEmpty)
    } finally srv.stop()
  }

  test("global aggregate (no group keys) pushes down, empty-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_gagg").toString
    val local = spark.read.parquet(s"$sf/customer.parquet")
    local.repartition(3).write.mode("overwrite").parquet(s"$dir/cust")
    val srv = RemoteTableServer.start(spark, Map("cust" -> s"$dir/cust"))
    try {
      val remote = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "cust").load()
      val before = srv.rowsSent.get()
      val got = remote.agg(count(lit(1)), sum("c_custkey"), max("c_name")).collect()(0)
      val want = local.agg(count(lit(1)), sum("c_custkey"), max("c_name")).collect()(0)
      assert(got == want)
      assert(srv.rowsSent.get() - before <= 3) // one partial per fragment
    } finally srv.stop()
  }

  test("avg pushes as sum+count partials (Spark's rewrite), exact on longs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_avg").toString
    val local = spark.read.parquet(s"$sf/customer.parquet")
    local.repartition(3).write.mode("overwrite").parquet(s"$dir/cust")
    val srv = RemoteTableServer.start(spark, Map("cust" -> s"$dir/cust"))
    try {
      val remote = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "cust").load()
      val before = srv.rowsSent.get()
      val got = remote.groupBy("c_mktsegment").agg(avg("c_custkey").as("a"))
        .orderBy("c_mktsegment").collect().toSeq
      val shipped = srv.rowsSent.get() - before
      val want = local.groupBy("c_mktsegment").agg(avg("c_custkey").as("a"))
        .orderBy("c_mktsegment").collect().toSeq
      assert(got == want)
      val nSeg = local.select("c_mktsegment").distinct().count()
      // if Spark rewrote avg -> sum+count partials, only group partials ship
      assert(shipped <= 3 * nSeg, s"avg shipped $shipped rows — not pushed as partials")
    } finally srv.stop()
  }

  test("aggregate + filter falls back to row shipping, stays correct") {
    val local = spark.read.parquet(s"$sf/customer.parquet")
    val want = local.filter(col("c_nationkey") === 5)
      .groupBy("c_mktsegment").agg(sum("c_custkey").as("s"))
      .orderBy("c_mktsegment").collect().toSeq
    val got = remoteRead("customer").filter(col("c_nationkey") === 5)
      .groupBy("c_mktsegment").agg(sum("c_custkey").as("s"))
      .orderBy("c_mktsegment").collect().toSeq
    assert(got == want)
  }

  test("distinct aggregates do NOT push (fall back to rows), stay correct") {
    val local = spark.read.parquet(s"$sf/customer.parquet")
    val want = local.agg(countDistinct("c_nationkey")).collect()(0)
    val got = remoteRead("customer").agg(countDistinct("c_nationkey")).collect()(0)
    assert(got == want)
  }

  test("remote aggregation null semantics: count skips, sum/min/max null on all-null") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_nulls").toString
    val rows = Seq[(String, java.lang.Long, java.lang.Double)](
      ("a", 1L, 1.5), ("a", null, null), ("a", 3L, 0.5),
      ("b", null, null), ("b", null, null),           // all-null group
      ("c", 7L, -2.0))
    val local = rows.toDF("k", "v", "d")
    local.repartition(2).write.mode("overwrite").parquet(s"$dir/t")
    val srv = RemoteTableServer.start(spark, Map("t" -> s"$dir/t"))
    try {
      val remote = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "t").load()
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k").agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
            sum(col("v")).as("sv"), sum(col("d")).as("sd"),
            min(col("v")).as("mn"), max(col("d")).as("mx"))
          .orderBy("k").collect().toSeq
      val before = srv.rowsSent.get()
      val got = agg(remote)
      assert(got == agg(spark.read.parquet(s"$dir/t")))
      assert(srv.rowsSent.get() - before <= 2 * 3, "expected pushed partials")
      // the all-null group: counts 2/0, aggregates null
      val b = got.find(_.getString(0) == "b").get
      assert(b.getLong(1) == 2 && b.getLong(2) == 0 && b.isNullAt(3) &&
             b.isNullAt(4) && b.isNullAt(5) && b.isNullAt(6))
    } finally srv.stop()
  }

  test("aggregation spill guard: tiny group cap flushes partials, answer exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_spill").toString
    val local = spark.read.parquet(s"$sf/customer.parquet")
    local.repartition(2).write.mode("overwrite").parquet(s"$dir/cust")
    val srv = RemoteTableServer.start(spark, Map("cust" -> s"$dir/cust"))
    val oldCap = RemoteTableServer.maxAggGroups
    try {
      RemoteTableServer.maxAggGroups = 3 // force many mid-scan flushes
      val remote = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "cust").load()
      val before = srv.rowsSent.get()
      // group by a HIGH-cardinality key so the cap actually bites
      val got = remote.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("c_custkey").as("s"), max("c_acctbal").as("m"))
        .orderBy("c_nationkey").collect().toSeq
      val want = local.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("c_custkey").as("s"), max("c_acctbal").as("m"))
        .orderBy("c_nationkey").collect().toSeq
      assert(got == want)
      // flushing means MORE partial rows than fragments×groups — proof
      // the cap fired and the final merge still reassembled exactly
      val nKeys = local.select("c_nationkey").distinct().count()
      assert(srv.rowsSent.get() - before > 2 * nKeys,
        "cap never fired — raise cardinality or lower the cap in this test")
    } finally {
      RemoteTableServer.maxAggGroups = oldCap
      srv.stop()
    }
  }

  test("concurrent scans: 8 parallel clients, one server, all exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val local = spark.read.parquet(s"$sf/customer.parquet")
    val wantCount = local.count()
    val wantSum = local.agg(sum("c_custkey")).collect()(0).getLong(0)
    val runs = Future.sequence((1 to 8).map { i =>
      Future {
        val df = remoteRead("customer")
        if (i % 2 == 0) df.count() == wantCount
        else df.agg(sum("c_custkey")).collect()(0).getLong(0) == wantSum
      }
    })
    assert(Await.result(runs, 120.seconds).forall(identity))
  }

  test("reported statistics: a small remote dim BROADCASTS without a hint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_stats").toString
    spark.read.parquet(s"$sf/nation.parquet").write.mode("overwrite").parquet(s"$dir/nation")
    val srv = RemoteTableServer.start(spark, Map("nation" -> s"$dir/nation"))
    try {
      val dim = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "nation").load()
      val fact = spark.read.parquet(s"$sf/customer.parquet")
      // NO broadcast() hint: the optimizer must size the remote side
      // from the reported statistics (without them a DSv2 relation is
      // "huge" and this join would sort-merge/shuffle-hash)
      val joined = fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
        .groupBy("n_name").count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"remote dim did not broadcast — statistics not reaching the optimizer:\n$plan")
      val want = fact.join(spark.read.parquet(s"$sf/nation.parquet"),
          fact("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").count().orderBy("n_name").collect().toSeq
      assert(joined.orderBy("n_name").collect().toSeq == want)
    } finally srv.stop()
  }

  test("runtime (DPP-style) filtering: broadcast-join key set prunes the remote scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_dpp").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    li.repartition(4).write.mode("overwrite").parquet(s"$dir/li")
    li.select("l_orderkey").distinct().write.mode("overwrite").parquet(s"$dir/dim")
    val srv = RemoteTableServer.start(spark, Map("li" -> s"$dir/li"))
    try {
      val fact = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "li").load()
      val dim = spark.read.parquet(s"$dir/dim").filter(col("l_orderkey") < 50)
      val total = li.count()
      val before = srv.rowsSent.get()
      val got = fact.join(broadcast(dim), "l_orderkey")
        .agg(count(lit(1)), sum("l_quantity")).collect()(0)
      val shipped = srv.rowsSent.get() - before
      val want = li.join(broadcast(dim), "l_orderkey")
        .agg(count(lit(1)), sum("l_quantity")).collect()(0)
      assert(got == want)
      assert(shipped < total,
        s"runtime filter never reached the site: shipped $shipped of $total rows")
    } finally srv.stop()
  }

  test("wire formats: bin (default) == json, bytes smaller, arrays/nulls exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_fmt").toString
    // nulls, non-ASCII strings, arrays — the cases a codec gets wrong
    Seq[(java.lang.Long, String, Array[Float])](
      (1L, "plain", Array(1.5f, -2.25f)),
      (2L, null, null),
      (3L, "uniçødé ☃", Array(Float.NaN, 0f)),
      (4L, "", Array.empty[Float]))
      .toDF("id", "s", "v").write.mode("overwrite").parquet(s"$dir/t")
    val srv = RemoteTableServer.start(spark, Map("t" -> s"$dir/t"))
    try {
      def read(fmt: String) = {
        val b0 = srv.bytesSent.get()
        val rows = spark.read.format("graft.sources.RemoteFolioSource")
          .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "t")
          .option("wireFormat", fmt).option("wireCodec", "none").load()
          .orderBy("id").collect().toSeq
        (rows, srv.bytesSent.get() - b0)
      }
      val (jsonRows, _) = read("json")
      val (binRows, _) = read("bin")
      // NaN != NaN under Seq[Float] equality — compare rendered rows
      // (NaN prints "NaN"), which is also what the oracle hash does
      assert(binRows.map(_.toString) == jsonRows.map(_.toString))
      assert(jsonRows.map(_.toString) ==
        spark.read.parquet(s"$dir/t").orderBy("id").collect().toSeq.map(_.toString))
      // NaN survives binary (json needs the textual-NaN parse; pin both)
      val r3 = binRows.find(_.getLong(0) == 3L).get
      assert(r3.getSeq[Float](2).head.isNaN)
    } finally srv.stop()
    // byte win belongs to REALISTIC shapes (text floats are long): the
    // embeddings table, uncompressed, must ship smaller in binary
    def bytesOf(fmt: String): Long = {
      val b0 = server.bytesSent.get()
      spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${server.port}").option("table", "embeddings")
        .option("wireFormat", fmt).option("wireCodec", "none").load().collect()
      server.bytesSent.get() - b0
    }
    val jb = bytesOf("json"); val bb = bytesOf("bin")
    assert(bb < jb, s"bin shipped $bb vs json $jb on embeddings — framing not engaged")
  }

  test("wire codec: gzip ships fewer bytes than plain, same answer") {
    val local = spark.read.parquet(s"$sf/customer.parquet").orderBy("c_custkey").collect().toSeq
    def readWith(codec: String) = {
      val b0 = server.bytesSent.get()
      val rows = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${server.port}")
        .option("table", "customer").option("wireCodec", codec).load()
        .orderBy("c_custkey").collect().toSeq
      (rows, server.bytesSent.get() - b0)
    }
    val (plainRows, plainBytes) = readWith("none")
    val (gzRows, gzBytes) = readWith("gzip")
    assert(plainRows == local && gzRows == local)
    assert(gzBytes < plainBytes / 2,
      s"gzip shipped $gzBytes vs plain $plainBytes — compression not effective")
  }

  test("scan error travels inside the gzip frame (not frame corruption)") {
    // request a fragment outside the table dir → server-side validation
    // error AFTER the client wrapped its input in GZIPInputStream; the
    // error must arrive as a readable message, not a ZipException
    val reader = new graft.sources.RemoteRowReader("127.0.0.1", server.port,
      "customer", "/etc/passwd",
      spark.read.parquet(s"$sf/customer.parquet").schema,
      Array.empty, None, "gzip")
    val e = intercept[java.io.IOException] { reader.next() }
    assert(e.getMessage.contains("remote scan failed"),
      s"expected a protocol error message, got: $e")
    reader.close()
  }

  test("plan error surfaces loudly (unknown table)") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${server.port}")
        .option("table", "nope").load()
    }
    assert(e.getMessage.contains("nope") || e.getMessage.contains("remote plan failed"))
  }

  test("hardening pins: endpoint-with-table rexec, sibling-dir containment, per-table shared cache") {
    // rexec accepts a FULL remote:// endpoint around the eval handle
    // (the /table suffix is dropped, not parsed into the port or token)
    val viaEndpoint = graft.sources.RemoteEval.call(spark,
      s"remote://${evalServer.evalHandle}/customer",
      "select count(*) as n from customer")
    assert(viaEndpoint.first().getLong(0) ==
      spark.read.parquet(s"$sf/customer.parquet").count())
    // a fragment in a SIBLING directory sharing the served dir's name
    // prefix must be rejected (containment includes the separator)
    val base = java.nio.file.Files.createTempDirectory("graft_sibling").toString
    spark.read.parquet(s"$sf/customer.parquet").limit(3)
      .write.parquet(s"$base/t")
    spark.read.parquet(s"$sf/customer.parquet").limit(5)
      .write.parquet(s"$base/t2")
    val srv = RemoteTableServer.start(spark, Map("t" -> s"$base/t"))
    try {
      val sibling = new java.io.File(s"$base/t2").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      val sock = new java.net.Socket("127.0.0.1", srv.port)
      try {
        val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          sock.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        out.write(s"""{"op":"scan","table":"t","fragment":"$sibling","columns":["c_custkey"],"wireCodec":"none","wireFormat":"json"}""")
        out.newLine(); out.flush()
        val resp = in.readLine()
        assert(resp != null && resp.contains("error") &&
               resp.contains("not under"), s"sibling fragment shipped: $resp")
      } finally sock.close()
    } finally srv.stop()
    // sharedFor keyed by (table, dir): a second name over the same dir
    // gets a server that actually serves THAT name
    val s1 = RemoteTableServer.sharedFor(spark, "alpha", s"$base/t")
    val s2 = RemoteTableServer.sharedFor(spark, "beta", s"$base/t")
    assert(s1.endpoint("alpha").nonEmpty && s2.endpoint("beta").nonEmpty)
    // a timestamp table written as INT64 TIMESTAMP(MICROS) scans exactly
    // over the wire; the session's INT96 default is rejected LOUDLY by
    // the scan's physical-type check instead of erroring opaquely
    import spark.implicits._
    val tsDir = java.nio.file.Files.createTempDirectory("graft_tswire").toString
    val tsDf = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-05 14:30:45.123456")),
        (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")))
      .toDF("id", "ts")
    tsDf.write.parquet(s"$tsDir/int96") // session default
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tsDf.write.parquet(s"$tsDir/t")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val bad = RemoteTableServer.start(spark, Map("t" -> s"$tsDir/int96"))
    try {
      val e = intercept[Exception] {
        spark.read.format("graft.sources.RemoteFolioSource")
          .option("endpoint", s"127.0.0.1:${bad.port}").option("table", "t")
          .load().collect()
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
      assert(chain(e).contains("TIMESTAMP_MICROS") ||
             chain(e).contains("INT64"), s"INT96 not rejected loudly: ${chain(e)}")
    } finally bad.stop()
    val tsrv = RemoteTableServer.start(spark, Map("t" -> s"$tsDir/t"))
    try {
      val got = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${tsrv.port}").option("table", "t")
        .load().orderBy("id").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
      assert(got == Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-05 14:30:45.123456")),
        (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"))),
        s"timestamp wire drifted: $got")
    } finally tsrv.stop()
  }

  test("overwritten table serves fresh fragments (live listing)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remote_live").toString
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.limit(10).write.mode("overwrite").parquet(s"$dir/t")
    val srv = RemoteTableServer.start(spark, Map("t" -> s"$dir/t"))
    try {
      val read1 = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "t").load()
      assert(read1.count() == 10)
      cust.limit(25).write.mode("overwrite").parquet(s"$dir/t")
      val read2 = spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"127.0.0.1:${srv.port}").option("table", "t").load()
      assert(read2.count() == 25)
    } finally srv.stop()
  }
}
