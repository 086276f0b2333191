package graft.sources

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The remote half of a FEDERATED FOLIO — the reference's "list of
  * socket-mapped objects inside a FOLIO … executes queries remotely"
  * (/root/reference/presented.h:427–430), realized as a minimal
  * arrow-flight-shaped table service over a loopback TCP socket.
  *
  * Protocol (newline-delimited JSON, one request per connection):
  *
  *   → {"op":"plan","table":T}
  *   ← {"schema":"<spark DDL>","fragments":["/abs/file1.parquet",…]}
  *
  *   → {"op":"scan","table":T,"fragment":F,"columns":[…],"filters":[…]}
  *   ← one JSON array per row (values in requested-column order)
  *   ← {"done":<rowCount>}            (or {"error":"…"} at any point)
  *
  * The SCALE-RELEVANT contract, mirroring what a real remote site does:
  *
  *  - **Fragment = unit of parallelism.** `plan` exposes one fragment per
  *    parquet file; the client plans one `InputPartition` per fragment, so
  *    a 1000-executor cluster fans scan connections out across files
  *    exactly like the folio's per-sublist parallelism (presented.h:393).
  *  - **Projection executes remotely.** The requested column set is pruned
  *    into the parquet read schema (`parquet.read.schema`), so unrequested
  *    columns are never DECODED at the site, let alone shipped.
  *  - **Filters execute remotely — conservatively.** Pushed predicates are
  *    evaluated under three-valued logic and a row is dropped only when
  *    the predicate is DEFINITELY false; anything unknown ships and the
  *    client re-filters (the client keeps every pushed filter as residual,
  *    so server filtering is pure wire-byte reduction, never a correctness
  *    dependency).
  *  - **Scans never touch Spark.** The site reads its own parquet via
  *    parquet-java's Group API. This matters in-process: reader tasks
  *    occupy executor slots while they block on the socket — if serving a
  *    scan needed a Spark job of its own, a wide remote scan could soak
  *    every slot with blocked readers and deadlock. Spark is used ONCE,
  *    at registration, on the driver, to derive the table's Spark schema.
  *
  * Fragments are re-listed on every `plan` request (the folio `_CURRENT`
  * philosophy: the directory, not a frozen listing, is the source of
  * truth), so a site whose table is overwritten between queries serves
  * the new files; the schema is pinned at registration and re-validated
  * lazily only through read errors, matching the reference's
  * fixed-layout folio members.
  */
final class RemoteTableServer private (tables: Map[String, RemoteTableServer.Served],
    private[graft] val evalSession: Option[SparkSession], evalToken: Option[String]) {
  import RemoteTableServer._

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  def endpoint(table: String): String = {
    require(tables.contains(table), s"table '$table' not served here")
    s"remote://127.0.0.1:$port/$table"
  }

  /** The kdb-style EVAL handle (`host:port:token`) for `rexec` — eval
    * is the arbitrary-program surface (the dialect includes file and
    * table-mutation verbs), so unlike the read-only scan protocol it
    * authenticates: requests must carry the shared-secret token minted
    * at [[RemoteTableServer.start]] (auto-generated when the caller
    * does not supply one). Whoever holds the handle holds the site. */
  def evalHandle: String = {
    require(evalSession.isDefined, "eval is not enabled on this site")
    s"127.0.0.1:$port:${evalToken.get}"
  }

  // observability for specs: bytes don't lie about pushdown
  val rowsSent = new AtomicLong(0)
  val bytesSent = new AtomicLong(0)
  val scansServed = new AtomicLong(0)
  val lastScanColumns = new AtomicReference[Seq[String]](Nil)
  val lastScanAggregate = new AtomicReference[String]("")

  @volatile private var running = true
  locally {
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          // bounded patience on the SERVER side too: a client that
          // connects and never sends (or never reads) must not park a
          // handler thread forever — reads time out, the handler dies,
          // the socket closes (writes unblock with a reset)
          sock.setSoTimeout(120000)
          val h = new Thread(() => handle(sock), s"remote-table-handler-$port")
          h.setDaemon(true)
          h.start()
        } catch {
          case _: java.io.IOException => () // closed during stop(), or accept hiccup
        }
      }
    }, s"remote-table-acceptor-$port")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  def stop(): Unit = { running = false; server.close() }

  private def handle(sock: Socket): Unit = {
    val counting = new CountingOutputStream(sock.getOutputStream, bytesSent)
    val out = new BufferedWriter(
      new OutputStreamWriter(counting, StandardCharsets.UTF_8))
    val mapper = new ObjectMapper()
    try {
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val line = in.readLine()
      if (line != null) {
        val req = mapper.readTree(line)
        req.path("op").asText() match {
          case "plan" => servePlan(mapper, out, req)
          case "scan" => serveScan(mapper, out, counting, req)
          case "eval" => serveEval(mapper, out, req)
          case other  => throw new IllegalArgumentException(s"unknown op '$other'")
        }
      }
      out.flush()
    } catch {
      case e: Throwable =>
        try {
          val err = mapper.createObjectNode()
          err.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}")
          out.write(err.toString); out.newLine(); out.flush()
        } catch { case _: Throwable => () }
    } finally {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  /** Kerf IPC made literal (the reference's REPLICATED_SOCKET_THINGS +
    * MESSAGE presented types, enums.h:264,278; kdb/Kerf1's `h "program"`
    * RPC): the client ships a PROGRAM, the site evaluates it against its
    * own tables on its own Spark session and ships back the result
    * VALUE. The opposite data movement of the scan protocol — eval moves
    * the QUESTION to the data; the table protocol moves rows to the
    * question. Results are REPL-sized by contract (maxEvalRows guard,
    * loud error beyond): corpus-scale answers belong on the scan path.
    *
    *   → {"op":"eval","program":"select …"}
    *   ← {"schema":"<spark DDL>"}
    *   ← one JSON array per row       (RemoteCodec values)
    *   ← {"done":<rowCount>}          (or {"error":"…"} at any point)
    *
    * Unlike scans (Spark-free by design — they run inside blocked
    * executor slots), eval runs ON the site's Spark session: the caller
    * is a DRIVER-side verb, so no executor slot blocks while waiting.
    * Served tables register as temp views under their served names,
    * re-read per request (the live-listing philosophy). */
  private val evalLock = new Object
  private def serveEval(m: ObjectMapper, out: BufferedWriter, req: JsonNode): Unit = {
    // EVALUATION serializes on the lock (shared session, shared temp
    // views); the socket WRITE happens OUTSIDE it — Java sockets have
    // no write timeout, so a client that requests a big result and
    // never reads would otherwise hold the lock forever and wedge eval
    // service for every caller (it now wedges only its own handler)
    val (schemaDdl, fields, rows) = evalLock.synchronized {
      val spark = evalSession.getOrElse(throw new IllegalStateException(
        "eval is not enabled on this site (start(…, enableEval = true))"))
      // AUTHENTICATE before touching the program: eval executes
      // arbitrary dialect code (file '>>'/'<<' verbs included), so a
      // loopback-reachable process without the shared secret gets a
      // loud refusal, never an evaluation. Constant-time compare — a
      // byte-by-byte mismatch must not leak the token's prefix.
      val sent = req.path("token").asText("")
      val want = evalToken.getOrElse(throw new IllegalStateException(
        "eval site started without a token (RemoteTableServer bug)"))
      if (!java.security.MessageDigest.isEqual(
            sent.getBytes(StandardCharsets.UTF_8),
            want.getBytes(StandardCharsets.UTF_8)))
        throw new SecurityException(
          "eval: bad or missing token — use the site's evalHandle " +
          "(host:port:token) as the rexec target")
      val program = req.path("program").asText()
      require(program.nonEmpty, "eval: empty program")
      tables.foreach { case (name, served) =>
        spark.read.parquet(served.dir).createOrReplaceTempView(name)
      }
      val df = graft.sql.KerfSql.run(spark, program)
      validate("<eval result>", df.schema)
      // one read of the mutable cap — the limit and the require must
      // see the SAME value under a concurrent spec mutation
      val cap = maxEvalRows
      val collected = df.limit(cap + 1).collect()
      require(collected.length <= cap,
        s"eval result exceeds $cap rows — REPL-sized results only; " +
        "read corpus-scale data through the remote:// table protocol")
      (df.schema.toDDL, df.schema.fields, collected)
    }
    val hdr = m.createObjectNode()
    hdr.put("schema", schemaDdl)
    out.write(hdr.toString); out.newLine()
    rows.foreach { r =>
      val arr = m.createArrayNode()
      var i = 0
      while (i < fields.length) {
        RemoteCodec.addJson(arr, toWire(r.get(i), fields(i).dataType), fields(i).dataType)
        i += 1
      }
      out.write(arr.toString); out.newLine()
    }
    val done = m.createObjectNode()
    done.put("done", rows.length.toLong)
    out.write(done.toString); out.newLine()
    rowsSent.addAndGet(rows.length.toLong)
    ()
  }

  /** External collect() values → the wire's codec values (timestamps are
    * µs longs on the wire; dates are epoch days). */
  private def toWire(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case TimestampType | TimestampNTZType => v match {
        case t: java.sql.Timestamp =>
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        case i: java.time.Instant =>
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case l: java.time.LocalDateTime =>
          val i = l.toInstant(java.time.ZoneOffset.UTC)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case other => other
      }
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case other => other
      }
      case ArrayType(et, _) =>
        v.asInstanceOf[Seq[Any]].map(e => toWire(e, et))
      case _ => v
    }

  private def servedOf(req: JsonNode): (String, Served) = {
    val t = req.path("table").asText()
    (t, tables.getOrElse(t,
      throw new IllegalArgumentException(
        s"unknown table '$t' (serving: ${tables.keys.toSeq.sorted.mkString(", ")})")))
  }

  private def servePlan(m: ObjectMapper, out: BufferedWriter, req: JsonNode): Unit = {
    val (_, s) = servedOf(req)
    val resp = m.createObjectNode()
    resp.put("schema", s.schema.toDDL)
    val frags = resp.putArray("fragments")
    val list = s.listFragments()
    list.foreach(frags.add)
    // on-disk bytes, so the client's optimizer can SIZE the site (a
    // small remote table broadcasts instead of shuffling the fact side)
    resp.put("bytes", list.map(f => new java.io.File(f).length()).sum)
    out.write(resp.toString); out.newLine()
  }

  /** Scan response emission, independent of transport details. The
    * server speaks two wire formats (the bus's wire-format flags,
    * bus.h:106–111): `json` — one JSON array per row, human-greppable;
    * `bin` — tag-framed big-endian records (DataOutputStream IS network
    * byte order), no text round-trip. Either composes with the gzip
    * codec. */
  private sealed trait Emitter {
    def row(values: Array[Any], types: Array[DataType]): Unit
    def done(n: Long): Unit
    def error(msg: String): Unit
    def finish(): Unit
  }

  private final class JsonEmitter(m: ObjectMapper, out: BufferedWriter,
                                  gz: java.util.zip.GZIPOutputStream) extends Emitter {
    def row(values: Array[Any], types: Array[DataType]): Unit = {
      val arr = m.createArrayNode()
      var i = 0
      while (i < values.length) { RemoteCodec.addJson(arr, values(i), types(i)); i += 1 }
      out.write(arr.toString); out.newLine()
    }
    def done(n: Long): Unit = {
      val d = m.createObjectNode(); d.put("done", n)
      out.write(d.toString); out.newLine()
    }
    def error(msg: String): Unit = {
      val e = m.createObjectNode(); e.put("error", msg)
      out.write(e.toString); out.newLine()
    }
    def finish(): Unit = { out.flush(); if (gz != null) gz.finish() }
  }

  /** Record framing: tag 0 = row, 1 = done + count(i64), 2 = error +
    * UTF-8 message (i32 length prefix). Field framing in RemoteCodec. */
  private final class BinEmitter(out: java.io.DataOutputStream,
                                 gz: java.util.zip.GZIPOutputStream) extends Emitter {
    def row(values: Array[Any], types: Array[DataType]): Unit = {
      out.writeByte(0)
      var i = 0
      while (i < values.length) { RemoteCodec.writeBin(out, values(i), types(i)); i += 1 }
    }
    def done(n: Long): Unit = { out.writeByte(1); out.writeLong(n) }
    def error(msg: String): Unit = {
      out.writeByte(2)
      val b = msg.getBytes(StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    def finish(): Unit = { out.flush(); if (gz != null) gz.finish() }
  }

  private def serveScan(m: ObjectMapper, plainOut: BufferedWriter,
                        rawOut: java.io.OutputStream, req: JsonNode): Unit = {
    // transport choices happen FIRST so even error responses travel in
    // the frame/format the client expects — a plain error after the
    // client wrapped its input in GZIPInputStream would surface as
    // frame corruption, not a message.
    val codec = {
      val c = if (req.has("codec")) req.path("codec").asText() else "none"
      require(c == "none" || c == "gzip", s"unknown wire codec '$c'")
      c
    }
    val format = {
      val f = if (req.has("format")) req.path("format").asText() else "json"
      require(f == "json" || f == "bin", s"unknown wire format '$f'")
      f
    }
    plainOut.flush() // nothing buffered may trail into the framed body
    val gzStream: java.util.zip.GZIPOutputStream =
      if (codec == "gzip") new java.util.zip.GZIPOutputStream(rawOut, 8192) else null
    val body: java.io.OutputStream = if (gzStream != null) gzStream else rawOut
    val emitter: Emitter =
      if (format == "bin")
        new BinEmitter(new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(body, 1 << 16)), gzStream)
      else
        new JsonEmitter(m, new BufferedWriter(
          new java.io.OutputStreamWriter(body, StandardCharsets.UTF_8)), gzStream)
    try {
      serveScanBody(m, emitter, req)
    } catch {
      case e: Throwable =>
        emitter.error(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      emitter.finish()
    }
  }

  private def serveScanBody(m: ObjectMapper, out: Emitter,
                            req: JsonNode): Unit = {
    val (_, s) = servedOf(req)
    val fragment = req.path("fragment").asText()
    // containment check with the SEPARATOR included: a bare prefix test
    // would admit a sibling dir sharing the name prefix (/data/t vs
    // /data/t2) — files outside the served tree must never ship
    val servedRoot = new java.io.File(s.dir).getCanonicalPath
    val fragPath = new java.io.File(fragment).getCanonicalPath
    require(fragPath == servedRoot ||
            fragPath.startsWith(servedRoot + java.io.File.separator),
      s"fragment '$fragment' is not under this table's directory")
    val cols: Seq[String] = {
      val it = req.path("columns").elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    cols.foreach(c => require(s.schema.fieldNames.contains(c),
      s"unknown column '$c'"))
    val filters: Seq[RemoteFilters.Pred] = {
      val it = req.path("filters").elements()
      val b = Seq.newBuilder[RemoteFilters.Pred]
      while (it.hasNext) b += RemoteFilters.fromJson(it.next())
      b.result()
    }
    val aggregate: Option[RemoteAgg] =
      if (req.has("aggregate")) Some(RemoteAgg.fromJson(req.get("aggregate"), s.schema))
      else None
    scansServed.incrementAndGet()
    lastScanColumns.set(cols)
    lastScanAggregate.set(aggregate.map(_.describe).getOrElse(""))

    // input columns: for an aggregated scan the client's column list is
    // the agg INPUTS (group keys + measure columns); otherwise the
    // projection to ship
    val inputCols = aggregate.map(_.inputCols).getOrElse(cols)

    val conf = new Configuration()
    val fileSchema: MessageType = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(fragment), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    // remote-side projection: prune the parquet read schema so unrequested
    // columns are never decoded. A zero-column request (client count(*))
    // still needs SOME column to drive row iteration — use the first.
    val driveCols = if (inputCols.nonEmpty) inputCols else fileSchema.getFields.isEmpty match {
      case true  => Seq.empty
      case false => Seq(fileSchema.getFields.get(0).getName)
    }
    if (driveCols.nonEmpty) {
      val pruned = new MessageType("graft_remote",
        driveCols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
      conf.set(ReadSupport.PARQUET_READ_SCHEMA, pruned.toString)
    }
    // timestamp columns decode as raw INT64 µs (groupValue) — verify the
    // FILE actually stores that: INT96 (Spark's legacy default elsewhere;
    // Engine.session writes MICROS) would throw an opaque read error, and
    // an INT64 MILLIS annotation would ship values silently 1000× off.
    // Checked per fragment because the server re-lists fragments live.
    driveCols.foreach { c =>
      if (s.schema(c).dataType == TimestampType ||
          s.schema(c).dataType == TimestampNTZType) {
        import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
        val t = fileSchema.getType(fileSchema.getFieldIndex(c))
        val ok = t.isPrimitive &&
          t.asPrimitiveType().getPrimitiveTypeName ==
            PrimitiveType.PrimitiveTypeName.INT64 &&
          (t.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          })
        require(ok, s"remote scan: timestamp column '$c' in $fragment is " +
          s"stored as ${t} — the wire decodes INT64 TIMESTAMP(MICROS) only; " +
          "rewrite the table with spark.sql.parquet.outputTimestampType=" +
          "TIMESTAMP_MICROS (the Engine.session default)")
      }
    }
    val driveIdx: Map[String, (Int, DataType)] =
      driveCols.zipWithIndex.map { case (c, i) =>
        c -> (i, s.schema(c).dataType)
      }.toMap
    val colTypes: Array[DataType] = inputCols.map(c => s.schema(c).dataType).toArray

    val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), new Path(fragment))
        .withConf(conf).build()
    var sent = 0L
    try {
      var g = reader.read()
      while (g != null) {
        val keep = filters.forall { p =>
          driveIdx.get(p.col) match {
            case Some((i, dt)) => p.keeps(groupValue(g, i, dt))
            case None          => true // filter on an unprojected column: unknown, ship it
          }
        }
        if (keep) aggregate match {
          case Some(agg) =>
            agg.update(i => groupValue(g, i, colTypes(i)))
            // spill guard: server state is bounded by per-fragment group
            // cardinality; at the cap, flush the partials accumulated so
            // far and reset. Emitting MULTIPLE partial rows for one group
            // is legal by construction — the client-side final aggregate
            // merges partials, however many arrive (same contract as
            // Spark's own map-side combine spilling).
            if (agg.shouldFlush(RemoteTableServer.maxAggGroups)) {
              agg.drainPartials().foreach { vals =>
                out.row(vals, agg.outTypes)
                sent += 1
              }
            }
          case None =>
            val vals = new Array[Any](inputCols.length)
            var i = 0
            while (i < inputCols.length) {
              vals(i) = groupValue(g, i, colTypes(i))
              i += 1
            }
            out.row(vals, colTypes)
            sent += 1
        }
        g = reader.read()
      }
    } finally reader.close()
    // aggregated scan: one partial row per group crosses the wire
    aggregate.foreach { agg =>
      agg.partialRows.foreach { vals =>
        out.row(vals, agg.outTypes)
        sent += 1
      }
    }
    rowsSent.addAndGet(sent)
    out.done(sent)
  }

  /** Extract field `idx` of a Group as a plain JVM value per the Spark
    * type: Long/Int/Double/Float/Boolean/String, DateType → days Int,
    * Timestamp(NTZ) → micros Long, ArrayType(prim) → Seq (standard
    * 3-level parquet LIST layout). Null when the field is absent. */
  private def groupValue(g: Group, idx: Int, dt: DataType): Any =
    if (g.getFieldRepetitionCount(idx) == 0) null
    else dt match {
      case LongType                        => g.getLong(idx, 0)
      case IntegerType                     => g.getInteger(idx, 0)
      case DoubleType                      => g.getDouble(idx, 0)
      case FloatType                       => g.getFloat(idx, 0)
      case BooleanType                     => g.getBoolean(idx, 0)
      case StringType                      => g.getString(idx, 0)
      case DateType                        => g.getInteger(idx, 0)
      case TimestampType | TimestampNTZType => g.getLong(idx, 0)
      case ArrayType(et, _) =>
        val lg = g.getGroup(idx, 0) // the LIST-annotated wrapper
        val n = lg.getFieldRepetitionCount(0)
        (0 until n).map { i =>
          val el = lg.getGroup(0, i) // repeated "list" entry holding "element"
          if (el.getFieldRepetitionCount(0) == 0) null
          else et match {
            case LongType    => el.getLong(0, 0)
            case IntegerType => el.getInteger(0, 0)
            case DoubleType  => el.getDouble(0, 0)
            case FloatType   => el.getFloat(0, 0)
            case BooleanType => el.getBoolean(0, 0)
            case StringType  => el.getString(0, 0)
            case other => throw new UnsupportedOperationException(
              s"unsupported remote array element type $other")
          }
        }
      case other => throw new UnsupportedOperationException(
        s"unsupported remote column type $other")
    }
}

object RemoteTableServer {

  /** Spill threshold for remote partial aggregation: at this many
    * in-flight groups the server flushes partials and resets (multiple
    * partials per group merge fine client-side). @volatile var so specs
    * can force tiny caps; 100k groups ≈ a few MB of accumulators. */
  @volatile var maxAggGroups: Int = 100000

  /** Counts bytes that actually hit the socket — the honest measure of
    * what projection/filter/aggregate/codec pushdown saves. Increments
    * the shared counter live (per write), so an observer never races a
    * connection's teardown. */
  private[sources] final class CountingOutputStream(under: java.io.OutputStream,
                                                    total: AtomicLong)
      extends java.io.OutputStream {
    override def write(b: Int): Unit = { under.write(b); total.incrementAndGet(); () }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); total.addAndGet(len.toLong); ()
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  private[sources] final case class Served(dir: String, schema: StructType) {
    /** Live listing — the directory, not a frozen snapshot, is truth. */
    def listFragments(): Seq[String] = {
      val f = new java.io.File(dir)
      if (f.isFile) Seq(f.getAbsolutePath)
      else {
        val fs = f.listFiles((_, n) => n.endsWith(".parquet"))
        require(fs != null && fs.nonEmpty,
          s"no parquet fragments under $dir")
        fs.map(_.getAbsolutePath).sorted.toSeq
      }
    }
  }

  private val supportedAtomic: Set[DataType] = Set(
    LongType, IntegerType, DoubleType, FloatType, BooleanType, StringType,
    DateType, TimestampType, TimestampNTZType)

  private def validate(table: String, schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case t if supportedAtomic(t)                     => ()
        case ArrayType(et, _) if supportedAtomic(et) &&
            !et.isInstanceOf[DateType.type] &&
            !et.isInstanceOf[TimestampType.type] &&
            !et.isInstanceOf[TimestampNTZType.type]      => ()
        case other => throw new UnsupportedOperationException(
          s"remote table '$table': column '${f.name}' has unsupported type $other")
      }
    }

  /** Start a server for `tables` (name → parquet file or directory).
    * The Spark schema is derived once per table, HERE, from a parquet
    * footer (no Spark job) — scans are Spark-free by design (see class
    * doc). */
  def start(spark: SparkSession, tables: Map[String, String],
            enableEval: Boolean = false,
            evalToken: String = ""): RemoteTableServer = {
    val served = tables.map { case (name, path) =>
      require(new java.io.File(path).exists(), s"remote table '$name': no such path $path")
      val schema = graft.io.Parquet.schemaOf(spark, path)
      validate(name, schema)
      name -> Served(path, schema)
    }
    // Each eval site gets its OWN child session (shared SparkContext,
    // isolated temp-view catalog): two sites serving the same table NAME
    // would otherwise race on createOrReplaceTempView in a shared catalog
    // during a concurrent scatter rexec — last registration wins for both
    // sites and the union silently double-reads one half. newSession()
    // inherits SparkConf-level settings but not runtime conf.set values,
    // so carry the caller's current session conf across.
    val evalSession = if (enableEval) {
      val es = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        scala.util.Try(es.conf.set(k, v))
      }
      Some(es)
    } else None
    // Eval sites ALWAYS authenticate (kdb's `host:port:user:pass` handle
    // discipline): an operator-supplied token, or a fresh SecureRandom
    // one. The 'g' prefix keeps the token from ever parsing as a port,
    // so `host:port` and `host:port:token` handles stay unambiguous.
    // Operator tokens carry the same obligations the handle grammar
    // imposes: no ':' (the segment separator), no '/' (RemoteEval drops
    // everything after a slash as an endpoint's /table suffix), and not
    // all-digits (the parser would read it as the PORT and dial it).
    require(!evalToken.contains(':') && !evalToken.contains('/'),
      "evalToken must not contain ':' or '/' (it rides the host:port:token handle)")
    require(evalToken.isEmpty || evalToken.exists(!_.isDigit),
      "evalToken must not be all digits (the handle parser would read it as a port)")
    val token = if (!enableEval) None
    else if (evalToken.nonEmpty) Some(evalToken)
    else {
      val bytes = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(bytes)
      Some("g" + bytes.map("%02x".format(_)).mkString)
    }
    new RemoteTableServer(served, evalSession, token)
  }

  /** Result-size ceiling for `eval` responses (REPL-sized by contract;
    * @volatile so specs can force tiny caps). */
  @volatile var maxEvalRows: Int = 1000000

  // ---------------------------------------------------------------------
  // remote partial aggregation — the "executes queries remotely" of
  // presented.h:427–430 made literal: a pushed group-by ships one partial
  // row per (fragment × group) instead of the fragment's rows. The server
  // computes SQL-semantics partials (count skips nulls, sum/min/max null
  // on all-null input, integral sums wrap like Spark's non-ANSI partial
  // Sum); Spark's final aggregate merges partials exactly as it merges
  // its own map-side output. State is bounded by per-fragment group
  // cardinality — the same contract as any map-side combine.
  // ---------------------------------------------------------------------

  /** Wire form: {"groupBy":["a","b"],"aggs":[{"fn":"count_star"},
    * {"fn":"sum","col":"x"},…]}. Output row: group values (groupBy
    * order) then agg values (aggs order). */
  final class RemoteAgg(groupBy: Seq[String], aggs: Seq[(String, String)],
                        schema: StructType) {
    /** distinct input columns, group keys first — also the extraction
      * index order shared with the scan loop */
    val inputCols: Seq[String] =
      (groupBy ++ aggs.collect { case (_, c) if c.nonEmpty => c }).distinct
    private val colIdx: Map[String, Int] = inputCols.zipWithIndex.toMap
    private val groupIdx: Array[Int] = groupBy.map(colIdx).toArray
    private val groupTypes: Array[DataType] =
      groupBy.map(c => schema(c).dataType).toArray
    private val aggIdx: Array[Int] =
      aggs.map { case (_, c) => if (c.isEmpty) -1 else colIdx(c) }.toArray
    private val aggInTypes: Array[DataType] =
      aggs.map { case (_, c) =>
        if (c.isEmpty) NullType else schema(c).dataType
      }.toArray

    def describe: String =
      s"groupBy=[${groupBy.mkString(",")}] aggs=[${aggs.map { case (f, c) => s"$f($c)" }.mkString(",")}]"

    // one accumulator vector per group; Vector key = group values
    private val state =
      scala.collection.mutable.HashMap.empty[Vector[Any], Array[Acc]]
    private def newAccs(): Array[Acc] =
      aggs.zipWithIndex.map { case ((fn, _), i) =>
        Acc.of(fn, aggInTypes(i))
      }.toArray
    // a GLOBAL aggregate (no group keys) must produce exactly one row
    // even over an empty fragment — SQL's one-row global agg contract
    if (groupBy.isEmpty) state(Vector.empty) = newAccs()

    def update(value: Int => Any): Unit = {
      val key = Vector.tabulate(groupIdx.length)(i => value(groupIdx(i)))
      val accs = state.getOrElseUpdate(key, newAccs())
      var i = 0
      while (i < accs.length) {
        accs(i).add(if (aggIdx(i) < 0) null else value(aggIdx(i)))
        i += 1
      }
    }

    /** Output schema of one partial row: group keys then agg values. */
    val outTypes: Array[DataType] =
      groupTypes ++ aggs.zipWithIndex.map { case ((fn, _), i) =>
        Acc.outTypeOf(fn, aggInTypes(i)) }

    def partialRows: Iterator[Array[Any]] =
      state.iterator.map { case (key, accs) =>
        val row = new Array[Any](key.length + accs.length)
        var i = 0
        while (i < key.length) { row(i) = key(i); i += 1 }
        accs.foreach { a => row(i) = a.value; i += 1 }
        row
      }

    /** True when grouped state hit the cap (a global agg never flushes —
      * its single row must survive to the end for the empty-input case). */
    def shouldFlush(maxGroups: Int): Boolean =
      groupIdx.nonEmpty && state.size >= maxGroups

    /** Emit current partials and reset — materialize before clearing
      * (partialRows is a lazy view over the state map). */
    def drainPartials(): Seq[Array[Any]] = {
      val rows = partialRows.toVector
      state.clear()
      rows
    }
  }

  object RemoteAgg {
    val supportedFns = Set("count_star", "count", "sum", "min", "max")
    def fromJson(n: JsonNode, schema: StructType): RemoteAgg = {
      val gb = {
        val it = n.path("groupBy").elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
      val aggs = {
        val it = n.path("aggs").elements()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) {
          val a = it.next()
          b += ((a.path("fn").asText(), a.path("col").asText("")))
        }
        b.result()
      }
      (gb ++ aggs.map(_._2).filter(_.nonEmpty)).foreach(c =>
        require(schema.fieldNames.contains(c), s"unknown aggregate column '$c'"))
      aggs.foreach { case (fn, _) =>
        require(supportedFns(fn), s"unknown aggregate fn '$fn'") }
      new RemoteAgg(gb, aggs, schema)
    }
  }

  /** One accumulator. `outType`/`value` must match what Spark's rewritten
    * final aggregate expects positionally: count→long, sum(integral)→
    * long (wrapping, like non-ANSI partial Sum), sum(fractional)→double,
    * min/max→input type. */
  sealed private[sources] trait Acc {
    def add(v: Any): Unit
    def value: Any
    def outType: DataType
  }
  private[sources] object Acc {
    def of(fn: String, dt: DataType): Acc = fn match {
      case "count_star" => new CountAcc(countNulls = true)
      case "count"      => new CountAcc(countNulls = false)
      case "sum" => dt match {
        case LongType | IntegerType => new LongSumAcc
        case DoubleType | FloatType => new DoubleSumAcc
        case other => throw new UnsupportedOperationException(s"sum($other)")
      }
      case "min" => new ExtremeAcc(dt, wantMax = false)
      case "max" => new ExtremeAcc(dt, wantMax = true)
    }
    def outTypeOf(fn: String, dt: DataType): DataType = of(fn, dt).outType
  }
  private final class CountAcc(countNulls: Boolean) extends Acc {
    private var n = 0L
    def add(v: Any): Unit = if (countNulls || v != null) n += 1
    def value: Any = n
    def outType: DataType = LongType
  }
  private final class LongSumAcc extends Acc {
    private var seen = false; private var s = 0L
    def add(v: Any): Unit = v match {
      case null                 => ()
      case l: java.lang.Long    => seen = true; s += l.longValue()
      case i: java.lang.Integer => seen = true; s += i.longValue()
      case other => throw new UnsupportedOperationException(s"sum over $other")
    }
    def value: Any = if (seen) s else null
    def outType: DataType = LongType
  }
  private final class DoubleSumAcc extends Acc {
    private var seen = false; private var s = 0.0
    def add(v: Any): Unit = v match {
      case null                => ()
      case d: java.lang.Double => seen = true; s += d.doubleValue()
      case f: java.lang.Float  => seen = true; s += f.doubleValue()
      case other => throw new UnsupportedOperationException(s"sum over $other")
    }
    def value: Any = if (seen) s else null
    def outType: DataType = DoubleType
  }
  /** Min/max with Spark's orderings: numeric natural order (NaN greatest,
    * java.lang.Double.compare), strings by UTF8 binary order. */
  private final class ExtremeAcc(dt: DataType, wantMax: Boolean) extends Acc {
    private var best: Any = null
    private def cmp(a: Any, b: Any): Int = dt match {
      case LongType    => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType | DateType =>
        java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case DoubleType  => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case FloatType   => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case TimestampType | TimestampNTZType =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
      case other => throw new UnsupportedOperationException(s"min/max over $other")
    }
    def add(v: Any): Unit =
      if (v != null && (best == null || (if (wantMax) cmp(v, best) > 0 else cmp(v, best) < 0)))
        best = v
    def value: Any = best
    def outType: DataType = dt
  }

  // one shared server per served directory, for queries that re-run in the
  // same JVM (bench two-pass, Verify): the directory may be overwritten
  // between runs, the lazily-listed fragments follow it
  // keyed by (table, dir) — a dir-only key would silently hand back a
  // server that does not serve the requested table name
  private val shared = scala.collection.mutable.Map.empty[String, RemoteTableServer]
  def sharedFor(spark: SparkSession, table: String, dir: String): RemoteTableServer =
    synchronized {
      shared.getOrElseUpdate(s"$table@$dir", start(spark, Map(table -> dir)))
    }
  /** Like [[sharedFor]] but with program EVAL enabled (the rexec side). */
  def sharedEvalFor(spark: SparkSession, table: String, dir: String): RemoteTableServer =
    synchronized {
      shared.getOrElseUpdate(s"eval:$table@$dir",
        start(spark, Map(table -> dir), enableEval = true))
    }
}
