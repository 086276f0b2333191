package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.io.{Folio, LocalFs}

/** The engine's local filesystem (`io.LocalFs`) writes what stock Hadoop
  * writes, and starts no child process doing it. The stock side runs the
  * same writes in a child session whose Hadoop configuration names the
  * stock classes, with the JVM-wide `FileSystem` cache off for it (that
  * cache holds the engine's instance). */
class LocalFsSpec extends SparkSpec {

  private val root = Files.createTempDirectory("graft_localfs")
  private val local = new URI("file:///")

  private lazy val stock: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    s
  }

  private def events(s: SparkSession, from: Long, n: Int): DataFrame =
    s.range(from, from + n).selectExpr("id AS event_id", "id * 1000 AS ts_ns",
      "id % 7 AS user_id", "concat('t', id % 3) AS event_type", "(id % 40) / 4.0 AS value")

  /** The ingest write path: a table write, appends, an upsert, a
    * compaction and one checkpointed rollup micro-batch. */
  private def ingest(s: SparkSession, dir: String): Unit = {
    Folio.write(events(s, 0, 30), s"$dir/table", Seq("event_type"), Seq("ts_ns"))
    val folio = s"$dir/folio"
    Folio.appendPartition(events(s, 0, 40), folio, Seq("event_type"), Seq("ts_ns"))
    Folio.appendPartition(events(s, 40, 40), folio, Seq("event_type"), Seq("ts_ns"))
    Folio.upsertPublish(events(s, 10, 5).selectExpr("event_id", "ts_ns", "user_id",
      "event_type", "value + 1 AS value"), folio, Seq("event_id"))
    Folio.compactIfFragmented(s, folio, 1, Seq("event_type"), Seq("ts_ns"))
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.EventStream.rollupStream(
      input.toDF().toDF("event_id", "event_type", "value"), s"$dir/rollup",
      Seq("event_type"), Seq("value"), Some(s"$dir/checkpoint"))
    try {
      input.addData((1L, "click", 1.5), (2L, "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    assert(Folio.promotedRead(s, folio).count() == 80)
  }

  /** Run `body`, returning the commands of the processes it started
    * that name `dir`, as an in-process JFR recording saw them. */
  private def processesNaming(dir: JPath)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile(root, "process", ".jfr")
    rec.dump(file)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
      .map(_.getString("command")).filter(c => c != null && c.contains(dir.toString))
  }

  private lazy val engineDir = root.resolve("engine")
  private lazy val stockDir = root.resolve("stock")
  private lazy val engineForks = processesNaming(engineDir)(ingest(spark, engineDir.toString))
  private lazy val stockForks = processesNaming(stockDir)(ingest(stock, stockDir.toString))

  /** Every entry under `dir` by its relative path, with the run-specific
    * parts of a name (ids, uuids, timestamps) masked, to its permissions. */
  private def permissions(dir: JPath): Map[String, Set[String]] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).toSeq
      .groupBy(p => dir.relativize(p).toString.replaceAll("[0-9a-f]{8,}(-[0-9a-f]{4,})*", "#"))
      .map { case (k, ps) => k -> ps.map(p =>
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))).toSet }
    finally walk.close()
  }

  test("file: resolves to the graft filesystems for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[LocalFs])
    val fc = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(fc.isInstanceOf[LocalFs.Context], fc.getClass)
  }

  test("folio, table and checkpoint writes get the permissions stock Hadoop gives them") {
    engineForks
    stockForks
    val (engine, stocked) = (permissions(engineDir), permissions(stockDir))
    assert(engine.keySet == stocked.keySet,
      s"engine only: ${engine.keySet -- stocked.keySet}; stock only: ${stocked.keySet -- engine.keySet}")
    val differ = engine.filter { case (k, v) => stocked(k) != v }
    assert(differ.isEmpty, differ.map { case (k, v) => s"$k: $v vs ${stocked(k)}" }.mkString("; "))
    assert(engine.keys.exists(_.endsWith(".crc")) && engine.keys.exists(_.startsWith("checkpoint/")))
  }

  test("getFileLinkStatus matches stock on a file, a directory and symlinks") {
    val dir = Files.createDirectory(root.resolve("links"))
    val file = Files.write(dir.resolve("f"), "x".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("gone"), dir.resolve("nothing"))
    val conf = new Configuration()
    val graftFs = new LocalFs
    graftFs.initialize(local, conf)
    val stockFs = new RawLocalFileSystem
    stockFs.initialize(local, conf)
    def show(st: FileStatus): String =
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink else "", st.getLen, st.getModificationTime,
          st.getPermission, st.getOwner, st.getGroup).mkString("|")
    def outcome(fs: FileSystem, p: Path): Either[String, String] =
      Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass.getName).map(show)
    for (p <- Seq(file, sub, link, dangling); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(outcome(graftFs, path) == outcome(stockFs, path), path)
  }

  test("the ingest write path starts no process; stock Hadoop starts some") {
    val (engine, stocked) = (engineForks.size, stockForks.size)
    assert(engine == 0, s"$engine processes, first: ${engineForks.take(3).mkString("; ")}")
    assert(stocked > 0)
  }
}
