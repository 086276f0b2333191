package graft

import java.io.{BufferedReader, PrintStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive console for the dialect — the reference's readline+libevent
  * REPL (/root/reference/main.cc:83–97: `KERFPROMPT "kerf> "`, continue
  * prompt `"> "`, `line_handler` accumulates lines until
  * `LEXER::is_complete`, Ctrl-D exits) re-expressed as a plain stdin loop
  * over [[graft.sql.KerfSql.Interp]] — the session object, so variables,
  * defs and temp views persist across statements exactly as the reference
  * workspace does between prompts.
  *
  * The multi-line intake contract is the reference's
  * `parenthetically_complete` (/root/reference/lexer.h:620–631): a line
  * ending inside an open paren/bracket/brace or an unterminated string
  * switches to the continue prompt and the next line APPENDS (joined with
  * a newline, main.cc:49) — completeness does not mean error-free, merely
  * that reading can stop and the interpreter take over.
  *
  * Meta commands ride a leading backslash (unlexable in the dialect, so
  * they can never shadow a program): `\q` quits (Ctrl-D works too) and
  * `\c` clears the intake buffer — both recognized MID-CONTINUATION, so
  * a mistyped opener never traps the session. The workspace pair —
  * `\s <dir>` saves every temp view plus the session's vars/defs,
  * `\l <dir>` restores them into the LIVE session (the reference
  * console's workspace_save/load, main.cc:83–97 + file.cc:994–1023) —
  * and `\tables` lists the catalog. `\t <prefix>` prints completion
  * candidates ([[completions]]: catalog tables, session vars/defs,
  * dialect keywords) — the hook a raw-mode/readline front end binds to
  * TAB; the plain-stdin loop exposes it as a command so the behavior
  * stays scriptable and spec-pinned.
  */
object Repl {
  val Prompt = "kerf> "
  val ContinuePrompt = "> "

  /** Max rows printed per result (the reference console clips its table
    * renderer the same way; full results belong in `>>` writes). */
  val ShowRows = 20

  /** The reference's `parenthetically_complete` (lexer.h:620–631): false
    * while a paren/bracket/brace is open or a string literal is
    * unterminated — the only states where more input can change how the
    * buffered text lexes. A stray CLOSER reports complete: the
    * interpreter's error message beats a prompt that can never finish. */
  def isComplete(text: String): Boolean = {
    var depth = 0
    var inString = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inString) {
        if (c == '\'') {
          if (i + 1 < text.length && text.charAt(i + 1) == '\'') i += 1 // '' escape
          else inString = false
        }
      } else c match {
        case '\''            => inString = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _               => ()
      }
      i += 1
    }
    depth <= 0 && !inString
  }

  /** Render a result frame the way the reference's console table renderer
    * does (presented.cc:62–246 prints name row + aligned value rows):
    * column-width-aligned text, clipped at [[ShowRows]] with an ellipsis
    * row. One `limit(n+1)` collect — never a full materialization. */
  def render(df: DataFrame, maxRows: Int = ShowRows): String = {
    val rows = df.limit(maxRows + 1).collect()
    val clipped = rows.length > maxRows
    val shown = rows.take(maxRows)
    val header = df.columns.toSeq
    val cells: Seq[Seq[String]] = header +: shown.toSeq.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) "null" else String.valueOf(r.get(i))))
    val widths = header.indices.map(i => cells.map(_(i).length).max)
    def line(vs: Seq[String]) =
      vs.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString(" ")
    val sep = widths.map("-" * _).mkString(" ")
    val body = (line(header) +: sep +: cells.tail.map(line)) ++
      (if (clipped) Seq("…") else Nil)
    body.mkString("\n")
  }

  /** Dialect surface worth completing at a prompt — statement heads,
    * clause keywords, and every pipeline verb (from the dialect's verb
    * table). Verbs that only appear inside expressions resolve through
    * the catalog/vars instead. */
  private val Keywords = (Seq(
    "select", "update", "insert", "upsert", "delete", "distinct",
    "from", "where", "group", "order", "limit", "rollup", "cube", "sets",
    "asof", "join", "window", "on", "at", "within", "forward", "strict",
    "back", "against", "into", "by", "def", "if", "else", "while",
    "meta", "explain", "fromjson", "tojson", "til", "ema", "kerf") ++
    sql.KerfSql.verbNames).distinct

  /** Completion candidates for `prefix`: catalog tables (temp views and
    * catalog tables alike), the session's variables and `def`s, and the
    * dialect keywords — case-insensitive prefix match, sorted. The
    * reference console's linenoise completion feed (main.cc:83–97). */
  def completions(spark: SparkSession, interp: sql.KerfSql.Interp,
                  prefix: String): Seq[String] = {
    val tables = spark.catalog.listTables().collect().map(_.name).toSeq
    (tables ++ interp.varNames ++ interp.defNames ++ Keywords)
      .filter(_.toLowerCase.startsWith(prefix.toLowerCase))
      .distinct.sorted
  }

  /** The read-eval-print loop, IO-injected so ReplSpec can drive it with
    * a scripted reader and assert on the captured transcript. Returns
    * when the reader drains (Ctrl-D) or on `\q`. */
  def runLoop(in: BufferedReader, out: PrintStream, spark: SparkSession): Unit = {
    val interp = new sql.KerfSql.Interp(spark)
    val buf = new StringBuilder
    var done = false
    while (!done) {
      out.print(if (buf.isEmpty) Prompt else ContinuePrompt)
      out.flush()
      val line = in.readLine()
      if (line == null) { // Ctrl-D (main.cc:37–41)
        out.println()
        done = true
      } else if (line.trim == "\\q") {
        // recognized even MID-CONTINUATION: a user trapped inside an
        // unterminated string/bracket must be able to leave
        done = true
      } else if (line.trim == "\\c") {
        // clear the intake buffer — the escape hatch from a mistyped
        // opener (the other way out of a stuck continuation)
        if (buf.nonEmpty) { buf.clear(); out.println("(input cleared)") }
      } else if (buf.isEmpty && line.trim.startsWith("\\")) {
        try line.trim match {
          case "\\tables" =>
            val ts = spark.catalog.listTables().collect()
              .map(t => s"${t.name}${if (t.isTemporary) "" else "  [stored]"}")
            out.println(if (ts.isEmpty) "(no tables)" else ts.sorted.mkString("\n"))
          // bare `\t` = empty prefix (all candidates): line.trim already
          // ate the trailing space, so `\t ` and `\t` must both land here
          case t if t == "\\t" || t.startsWith("\\t ") =>
            val cs = completions(spark, interp, t.stripPrefix("\\t").trim)
            out.println(if (cs.isEmpty) "(no completions)" else cs.mkString(" "))
          case s if s.startsWith("\\s ") =>
            // `\s <dir> [t1 t2 …]` — whole visible tree by default (the
            // reference's workspace_save), or just the named views
            val toks = s.stripPrefix("\\s ").trim.split("\\s+").toSeq
            require(toks.nonEmpty && toks.head.nonEmpty, "\\s needs a directory")
            val (dir, only) = (toks.head, toks.tail.toSet)
            val views = spark.catalog.listTables().collect()
              .filter(_.isTemporary).map(_.name)
              .filter(n => only.isEmpty || only(n))
              .map(n => n -> spark.table(n)).toMap
            val missing = only -- views.keySet
            require(missing.isEmpty,
              s"\\s: no such temp view(s): ${missing.toSeq.sorted.mkString(", ")}")
            io.Folio.workspaceSave(views, dir, interp)
            out.println(s"saved ${views.size} table(s) + program state to $dir")
          case l if l.startsWith("\\l ") =>
            val dir = l.stripPrefix("\\l ").trim
            require(dir.nonEmpty, "\\l needs a directory")
            require(new java.io.File(dir).isDirectory,
              s"no workspace directory at $dir")
            val loaded = io.Folio.workspaceLoad(spark, dir, interp)
            out.println(s"loaded: ${loaded.keys.toSeq.sorted.mkString(", ")}")
          case other => out.println(
            s"unknown meta command '$other' (\\q quits, \\c clears the " +
            "buffer, \\tables lists, \\t <prefix> completes, " +
            "\\s/\\l <dir> save/load the workspace; everything else is dialect)")
        } catch {
          case scala.util.control.NonFatal(e) =>
            out.println(s"error: ${Option(e.getMessage).getOrElse(e.toString)}")
        }
      } else {
        if (buf.nonEmpty) buf.append('\n') // main.cc:49's lex("\n") join
        buf.append(line)
        val text = buf.toString
        if (isComplete(text)) {
          buf.clear()
          if (text.trim.nonEmpty) {
            try {
              val t0 = System.nanoTime()
              val df = interp.run(text)
              val body = render(df)
              val ms = (System.nanoTime() - t0) / 1000000
              out.println(body)
              out.println(s"(${ms}ms)")
            } catch {
              // the reference's hard_jmp_wrapper: any error returns to a
              // fresh prompt with the session state intact — but only
              // recoverable errors; a fatal JVM error (OutOfMemoryError,
              // ThreadDeath) leaves the session undefined and must
              // propagate, not print as an ordinary 'error:' line
              case scala.util.control.NonFatal(e) =>
                out.println(s"error: ${Option(e.getMessage).getOrElse(e.toString)}")
            }
          }
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    // optional fixture dir: register the standard tables as views so a
    // console session can query them without `<<` reads
    args.headOption.foreach { dir =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
        .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
      Tables.events(spark, dir).createOrReplaceTempView("events")
      println(s"registered fixture tables from $dir")
    }
    println("graft console — the kerf dialect on Spark. \\q or Ctrl-D quits.")
    runLoop(new BufferedReader(new java.io.InputStreamReader(System.in)),
      System.out, spark)
    spark.stop()
  }
}
