package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.{Folio, Parquet}

/** The footer-read schema is the schema Spark's own inference gives, and
  * reading with it starts no Spark job. */
class ParquetSchemaSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_parquet").toString

  private def assertParity(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    assert(Parquet.schemaOf(spark, path).json == inferred.schema.json, path)
    val viaFooter = Parquet.read(spark, path)
    assert(viaFooter.schema == inferred.schema, path)
    assert(viaFooter.exceptAll(inferred).isEmpty && inferred.exceptAll(viaFooter).isEmpty, path)
  }

  /** Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftBenchGlue.drainListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    started.get
  }

  private def fixtures(sfDir: String): Seq[String] =
    new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$sfDir/$n").toSeq

  test("sf0.001 fixtures: the footer-schema read has the inferred read's schema and rows") {
    assert(fixtures(sf).size >= 10)
    fixtures(sf).foreach(assertParity)
  }

  test("sf0.01 fixtures: footer schema equals the inferred schema") {
    val fs = fixtures(sf.replace("sf0.001", "sf0.01"))
    assert(fs.size >= 10)
    fs.foreach(p => assert(Parquet.schemaOf(spark, p).json == spark.read.parquet(p).schema.json, p))
  }

  test("folio layouts: partitioned write, promoted version, rollup version") {
    val dir = tmp()
    val ev = Tables.events(spark, sf).drop("ts")
    Folio.write(ev, s"$dir/parted", Seq("event_type"), Seq("ts_ns"))
    assertParity(s"$dir/parted")
    assert(Parquet.schemaOf(spark, s"$dir/parted").fieldNames.last == "event_type")

    Folio.appendWithPromotion(ev, s"$dir/promoted")
    Folio.appendWithPromotion(ev.limit(10), s"$dir/promoted")
    val live = Folio.currentVersion(s"$dir/promoted").get
    assertParity(s"$dir/promoted/$live")

    val batch = ev.select(col("event_type").as("k"), col("value").as("v"))
    Folio.appendWithRollup(batch, s"$dir/rolled", Seq("k"), Seq("v"))
    Folio.appendWithRollup(batch.limit(5), s"$dir/rolled", Seq("k"), Seq("v"))
    val rv = Folio.currentVersion(s"$dir/rolled/meta").get
    assertParity(s"$dir/rolled/meta/$rv/rollup")
    Folio.rollupManifest(s"$dir/rolled").foreach(assertParity)
  }

  test("a Spark-written file with timestamp and decimal columns") {
    val path = s"${tmp()}/typed"
    spark.range(0, 50).select(
      col("id"),
      timestamp_micros(col("id") * 3600000000L).as("ts"),
      (col("id") / 7).cast("decimal(18,4)").as("amount"),
      (col("id") * 1000).cast("decimal(38,0)").as("big"),
      array(col("id"), col("id") + 1).as("pair"))
      .write.parquet(path)
    assertParity(path)
  }

  test("hidden entries are skipped, a summary file is preferred") {
    val path = s"${tmp()}/summary"
    spark.range(0, 10).select(col("id"), col("id").cast("int").as("n"))
      .write.parquet(path)
    // a footer whose schema differs from the data files' — which one a
    // reader picks shows in the schema it reports
    spark.range(0, 3).select(col("id").as("only"))
      .coalesce(1).write.parquet(s"$path.other")
    val other = new java.io.File(s"$path.other").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    def both = (Parquet.schemaOf(spark, path), spark.read.parquet(path).schema)
    // sorts before every part file, but hidden
    Files.copy(other, new java.io.File(path, ".early.parquet").toPath)
    Files.copy(other, new java.io.File(path, "_early.parquet").toPath)
    val (h, hi) = both
    assert(h.json == hi.json && h.fieldNames.toSeq == Seq("id", "n"))
    // Spark's inference reads `_metadata` before any data file
    Files.copy(other, new java.io.File(path, "_metadata").toPath)
    val (m, mi) = both
    assert(m.json == mi.json && m.fieldNames.toSeq == Seq("only"))
  }

  test("Tables.load and Folio.promotedRead start no Spark job") {
    val dir = tmp()
    Folio.appendWithPromotion(Tables.events(spark, sf).drop("ts"), s"$dir/f")
    val names = fixtures(sf).map(p => new java.io.File(p).getName.stripSuffix(".parquet"))
    val jobs = jobsDuring {
      names.foreach(Tables.load(spark, sf, _).schema)
      Folio.promotedRead(spark, s"$dir/f").schema
    }
    assert(jobs == 0, s"$jobs Spark jobs while resolving ${names.size + 1} relations")
    // the inferring reader would have started one per relation
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet")) == 1)
  }

  test("a missing path and an empty dir fail loudly and name the path") {
    val missing = s"${tmp()}/nope.parquet"
    val e1 = intercept[Exception](Parquet.read(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = tmp()
    val e2 = intercept[Exception](Parquet.read(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)
    // a root holding only hidden entries has no data file either
    Files.createDirectory(new java.io.File(empty, "_temporary").toPath)
    Files.write(new java.io.File(empty, "_SUCCESS").toPath, Array.emptyByteArray)
    val e3 = intercept[Exception](Tables.load(spark, empty, "absent"))
    assert(e3.getMessage.contains(s"$empty/absent.parquet"), e3.getMessage)
    val e4 = intercept[Exception](Folio.read(spark, empty))
    assert(e4.getMessage.contains(empty), e4.getMessage)
  }
}
