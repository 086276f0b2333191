package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a finished request hands back: how many units of work it did and
  * a check of its answer that runs after the clock stopped (None = ok). */
final case class Outcome(items: Long, check: () => Option[String])

/** Records the benchmark-side spans of one request. */
final class Timer {
  val spans = ArrayBuffer[Span]()
  def span[T](name: String)(f: => T): T = {
    val a = Clock.now
    try f finally spans += Span(name, a, Clock.now)
  }
}

/** One request type. `module` names the repo module the build step
  * drives; `read` marks the requests whose latency a workload reports and
  * `throughput` those whose items and wall time make up its throughput. */
final case class RequestType(name: String, module: String, read: Boolean,
                             throughput: Boolean = true)(val body: Timer => Outcome)

trait Workload {
  def name: String
  /** Makes the seeded inputs; its time is not part of `setup_s`. */
  def generate(spark: SparkSession): Unit = ()
  /** Session-scoped state the requests need, made once before warm-up. */
  def prepare(spark: SparkSession): Unit
  /** The requests of round `r`: every type the same number of times. */
  def round(seed: Long, r: Int): Seq[RequestType]
  /** Per-layer figures only this workload has, taken at the end. */
  def finish(): Seq[(String, Double)] = Nil
  /** The seeded inputs beyond the request order, for the sequence hash. */
  def fingerprint: String = ""
}

object Workloads {
  final case class Expected(rows: Long, ordered: Boolean, digest: String)
  /** The recorded answers, and the number of documents the corpus
    * requests run over. */
  final case class Expectations(queries: Map[String, Expected], documents: Long)

  /** The interactive mix: short analyst queries whose time is mostly
    * fixed per-request cost. One query each for filter and project, join
    * with aggregate, window, and the native as-of join, and three that
    * run Kerf dialect text through `KerfSql.run` (module "sql"): list
    * verbs, bars and fby. */
  val interactive: Seq[(String, String)] = Seq(
    "q02_filter_project" -> "query", "q04_join_agg" -> "query",
    "q11_window_rank" -> "query", "q45_asof_native" -> "query",
    "q52_kerf_text" -> "sql", "q100_kerf_bars" -> "sql", "q162_kerf_fby" -> "sql")

  /** The corpus mix: LLM-data operators over every document (module
    * "llm"), and the dialect pipeline of dedup, classify and sample over
    * the same documents. */
  val corpus: Seq[(String, String)] = Seq(
    "q72_tfidf" -> "llm", "q66_contamination" -> "llm", "q153_dialect_pipeline" -> "sql")

  val names = Seq("interactive", "corpus", "ingest")

  def apply(name: String, seed: Long, data: String, tmp: String,
            expected: Expectations): Workload = name match {
    case "interactive" => new Queries(name, interactive, data, expected.queries, 1L)
    case "corpus" => new Queries(name, corpus, data, expected.queries, expected.documents)
    case "ingest" => new Ingest(seed, data, tmp)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (have: ${names.mkString(", ")})")
  }

  def loadExpected(path: String): Expectations = {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val root = doc.path("queries")
    Expectations(root.fieldNames.asScala.map { k =>
      val n = root.get(k)
      k -> Expected(n.get("rows").asLong, n.get("ordered").asBoolean, n.get("digest").asText)
    }.toMap, doc.path("documents").asLong)
  }

  /** Queries from `SparkEntry.queries`, collected and digested; each
    * request counts as `items` units of work. */
  final class Queries(val name: String, mix: Seq[(String, String)], data: String,
                      expected: Map[String, Expected], items: Long) extends Workload {
    private var spark: SparkSession = _
    private lazy val types = mix.map { case (q, module) =>
      val fn = graft.SparkEntry.queries(q)
      RequestType(q, module, read = true) { t =>
        val df = t.span("build")(fn(spark, data))
        val rows = t.span("action")(df.collect())
        Outcome(items, () => expected.get(q) match {
          case None => Some(s"$q: no expected digest")
          case Some(e) =>
            val got = Digest.of(rows.toSeq, e.ordered)
            if (got == e.digest) None else Some(s"$q: digest $got, expected ${e.digest}")
        })
      }
    }
    def prepare(s: SparkSession): Unit = spark = s
    def round(seed: Long, r: Int): Seq[RequestType] = Gen.roundOrder(seed, r, types)
  }

  /** Writes and read-backs on one folio and one rollup folio.
    *
    * Each round makes the four writes once, in a seeded order, and reads
    * back after each: an append of a seeded slice of `events`, an upsert
    * of seeded corrections, a compaction when fragmented, and a streamed
    * micro-batch into the rollup folio. Every read is checked against the
    * same aggregate computed here from the batches that were sent. */
  final class Ingest(seed: Long, data: String, tmp: String) extends Workload {
    val name = "ingest"
    private val BatchRows = 1000
    private val Corrections = 100
    // below the five event-type partitions, so every compaction request
    // rewrites the folio whatever the seeded order left before it
    private val MaxFiles = 4
    private val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_ns", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))

    private var spark: SparkSession = _
    private var events: Array[Row] = _
    private var order: Array[Int] = _
    private var byId: Map[Long, Row] = _
    private var cursor = 0
    private val dir = s"$tmp/ingest"
    private val folio = s"$dir/folio"
    private val rollup = s"$dir/rollup"
    private var streams = 0
    // the model: what the folio and the rollup must hold
    private val folioRows = scala.collection.mutable.LinkedHashMap[Long, (String, Long)]()
    private val rolled = scala.collection.mutable.Map[String, (Long, Long, Double, Double)]()
    private var inputBytes = 0L

    override def generate(s: SparkSession): Unit = {
      events = graft.Tables.events(s, data)
        .select(schema.fieldNames.map(col): _*).collect()
      order = Gen.permutation(seed, 7L, events.length)
      byId = events.map(r => r.getLong(0) -> r).toMap
    }

    def prepare(s: SparkSession): Unit = {
      spark = s
      graft.io.Folio.appendPartition(frame(toFolio(slice())), folio, Seq("event_type"), Seq("ts_ns"))
    }

    private def cents(v: Double): Long = math.round(v * 100)
    private def bytesOf(r: Row): Long = 32L + r.getString(3).getBytes("UTF-8").length

    /** The next seeded batch of events. */
    private def slice(): Seq[Row] = {
      require(cursor + BatchRows <= order.length, "ingest ran out of events")
      val b = order.slice(cursor, cursor + BatchRows).toSeq.map(events(_))
      cursor += BatchRows
      inputBytes += b.map(bytesOf).sum
      b
    }

    private def toFolio(b: Seq[Row]): Seq[Row] = {
      b.foreach(r => folioRows(r.getLong(0)) = (r.getString(3), cents(r.getDouble(4))))
      b
    }

    private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

    private def folioRead(t: Timer): Outcome = {
      val df = t.span("build")(graft.io.Folio.promotedRead(spark, folio)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("s")))
      val got = t.span("action")(df.collect())
      val want = folioRows.values.groupBy(_._1).map { case (k, vs) =>
        k -> (vs.size.toLong, BigDecimal(vs.map(_._2).sum) / 100) }
      Outcome(1, () => {
        val have = got.map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
        if (have == want) None else Some(s"folio read-back $have, expected $want")
      })
    }

    private def rollupRead(t: Timer): Outcome = {
      val df = t.span("build")(graft.io.Folio.rollupRead(spark, rollup)
        .select("event_type", "n_rows", "value_sum", "value_min", "value_max"))
      val got = t.span("action")(df.collect())
      val want = rolled.toMap.map { case (k, (n, c, lo, hi)) => k -> (n, BigDecimal(c) / 100, lo, hi) }
      Outcome(1, () => {
        val have = got.map(r => r.getString(0) ->
          (r.getLong(1), BigDecimal(r.getDecimal(2)), r.getDouble(3), r.getDouble(4))).toMap
        if (have == want) None else Some(s"rollup read-back $have, expected $want")
      })
    }

    private val append = RequestType("append", "folio", read = false) { t =>
      val b = toFolio(slice())
      val df = frame(b)
      t.span("build")(graft.io.Folio.appendPartition(df, folio, Seq("event_type"), Seq("ts_ns")))
      Outcome(b.size, () => None)
    }

    private val upsert = RequestType("upsert", "folio", read = false) { t =>
      val r = Gen.rng(seed, 100000L + cursor)
      val ids = folioRows.keys.toIndexedSeq
      val picked = Iterator.continually(ids(r.nextInt(ids.size))).distinct.take(Corrections).toSeq
      val fixes = picked.map { id =>
        val row = byId(id)
        val c = folioRows(id)._2 + r.nextInt(2001) - 1000
        Row(row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3), c / 100.0)
      }
      val df = frame(fixes)
      t.span("build")(graft.io.Folio.upsertPublish(df, folio, Seq("event_id")))
      fixes.foreach(f => folioRows(f.getLong(0)) = (f.getString(3), cents(f.getDouble(4))))
      inputBytes += fixes.map(bytesOf).sum
      Outcome(fixes.size, () => None)
    }

    private val compact = RequestType("compact", "folio", read = false) { t =>
      t.span("build")(graft.io.Folio.compactIfFragmented(spark, folio, MaxFiles,
        Seq("event_type"), Seq("ts_ns")))
      Outcome(0, () => None)
    }

    private val stream = RequestType("stream", "stream", read = false) { t =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val b = slice()
      val input = MemoryStream[(Long, Long, Long, String, Double)]
      streams += 1
      val q = t.span("build") {
        val q = t.span("stream.start")(graft.streaming.EventStream.rollupStream(
          input.toDF().toDF(schema.fieldNames.toIndexedSeq: _*), rollup,
          Seq("event_type"), Seq("value"), Some(s"$dir/checkpoint-$streams")))
        try {
          input.addData(b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
          q.processAllAvailable()
        } finally q.stop()
        q
      }
      b.foreach { r =>
        val v = r.getDouble(4)
        val (n, c, lo, hi) = rolled.getOrElse(r.getString(3),
          (0L, 0L, Double.PositiveInfinity, Double.NegativeInfinity))
        rolled(r.getString(3)) = (n + 1, c + cents(v), math.min(lo, v), math.max(hi, v))
      }
      Outcome(b.size, () => q.exception.map(e => s"rollup stream failed: ${e.getMessage}"))
    }

    private val writes = Seq(append, upsert, compact, stream)
    /** The read-back after each write, one request type per write. */
    private val readAfter = writes.map { w =>
      w -> RequestType(s"read_${w.name}", "folio", read = true, throughput = false)(
        if (w eq stream) rollupRead else folioRead)
    }.toMap

    override def fingerprint: String = order.mkString(",")

    def round(seed: Long, r: Int): Seq[RequestType] =
      Gen.roundOrder(seed, r, writes).flatMap(w => Seq(w, readAfter(w)))

    private def tree(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) tree(f) else Seq(f))

    override def finish(): Seq[(String, Double)] = {
      val stored = (tree(new java.io.File(folio)) ++ tree(new java.io.File(rollup))).map(_.length).sum
      val live = graft.io.Folio.currentVersion(folio).fold(folio)(v => s"$folio/$v")
      Seq("folio.stored_bytes_per_input_byte" -> stored.toDouble / inputBytes,
          "folio.data_files" -> tree(new java.io.File(live)).count(_.getName.endsWith(".parquet")).toDouble)
    }
  }
}
