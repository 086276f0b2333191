package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

/** The console wrapper (reference main.cc:83–97): multi-line intake per
  * lexer.h:620–631's parenthetically_complete, session state across
  * prompts, errors return to a fresh prompt. The loop is IO-injected, so
  * these specs script stdin and assert on the transcript. */
class ReplSpec extends SparkSpec {

  private def transcript(lines: String*): String = {
    val in = new BufferedReader(new StringReader(lines.mkString("\n")))
    val bytes = new ByteArrayOutputStream()
    val out = new PrintStream(bytes, true, "UTF-8")
    Repl.runLoop(in, out, spark)
    new String(bytes.toByteArray, "UTF-8")
  }

  test("is_complete: the parenthetically_complete contract (lexer.h:620–631)") {
    assert(Repl.isComplete("select a from t"))
    assert(!Repl.isComplete("def f(x) {"))           // open brace
    assert(!Repl.isComplete("g: (1 + "))             // open paren
    assert(!Repl.isComplete("x: [1, 2,"))            // open bracket
    assert(!Repl.isComplete("s: 'unterminated"))     // open string
    assert(Repl.isComplete("s: 'it''s fine'"))       // '' escape inside string
    assert(!Repl.isComplete("s: 'it''s not"))        // escape then still open
    assert(Repl.isComplete("m: '(' "))               // opener inside a string doesn't count
    assert(Repl.isComplete("def f(x) { return x }")) // balanced across kinds
    assert(Repl.isComplete("oops )"))                // stray closer: complete (error loudly)
  }

  test("multi-line intake: continue prompt until complete, then one evaluation") {
    val t = transcript(
      "def tier(x) {",
      "  if (x >= 4) { return 2 };",
      "  return 1",
      "}; tier(9) + tier(1)",
      "\\q")
    // continuation prompts appeared (3 continue lines before completion)
    assert(t.contains(Repl.ContinuePrompt))
    // the joined program evaluated once, to 3
    assert(t.contains("3"), s"transcript:\n$t")
    assert(!t.contains("error:"), s"transcript:\n$t")
  }

  test("session state persists across prompts (Interp, not one-shot run)") {
    val t = transcript(
      "lim: 0; for (i: til 5) { lim: lim + i }",
      "mult: 1; do { mult: mult * 2 } while (mult < 8)",
      "def tier(x) { if (x >= lim * mult) { return 2 }; return 1 }",
      "tier(90)",
      "tier(3)",
      "\\q")
    // q105's control-flow program entered statement-by-statement:
    // lim = 0+1+2+3+4 = 10, mult = 8, tier(90) = 2 (90 >= 80), tier(3) = 1
    val answers = t.linesIterator.map(_.trim).filter(_.matches("\\d+")).toSeq
    assert(answers.containsSlice(Seq("2", "1")), s"transcript:\n$t")
  }

  test("errors return to a fresh prompt with state intact (hard_jmp_wrapper)") {
    val t = transcript(
      "x: 42",
      "select nope from no_such_table",
      "x + 1",
      "\\q")
    assert(t.contains("error:"), s"transcript:\n$t")
    assert(t.contains("43"), s"transcript:\n$t")
  }

  test("table results render aligned and clipped at ShowRows") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_repl")
    val t = transcript(
      "select n_name, n_regionkey from nation_repl order n_name",
      "\\q")
    assert(t.contains("n_name"), s"transcript:\n$t")
    assert(t.contains("NATION_"), s"transcript:\n$t")
    // 25 nations > ShowRows=20 → ellipsis row
    assert(t.contains("…"), s"transcript:\n$t")
    val shown = t.linesIterator.count(_.trim.matches("NATION_\\d+\\s+\\d+"))
    assert(shown == Repl.ShowRows, s"expected ${Repl.ShowRows} data rows, got $shown")
  }

  test("ctrl-D (drained reader) exits; unknown meta command is named") {
    val t = transcript("\\zap", "1 + 1")
    assert(t.contains("unknown meta command '\\zap'"), s"transcript:\n$t")
    assert(t.contains("2"), s"transcript:\n$t") // then the loop continued to EOF
  }

  test("\\q and \\c escape a stuck continuation (mistyped opener never traps)") {
    // \c clears an unterminated string so the next line evaluates fresh
    val t = transcript("s: 'oops", "\\c", "7 + 7", "\\q")
    assert(t.contains("(input cleared)"), s"transcript:\n$t")
    assert(t.linesIterator.map(_.trim).contains("14"), s"transcript:\n$t")
    // \q exits even while a bracket is open — no trailing evaluation
    val t2 = transcript("g: (1 +", "\\q", "9 + 9")
    assert(!t2.linesIterator.map(_.trim).contains("18"), s"transcript:\n$t2")
  }

  test("\\t completion: catalog tables, session vars/defs, and keywords by prefix") {
    import org.apache.spark.sql.functions.lit
    spark.range(3).select(lit(1).as("x"))
      .createOrReplaceTempView("compl_trades")
    val t = transcript(
      "compl_total: 42",
      "def compl_tier(x) { return x }",
      "\\t compl_t",
      "\\t selec",
      "\\t zzz_nothing",
      "\\q")
    // one line carries all three compl_t candidates, space-joined sorted
    assert(t.contains("compl_tier compl_total compl_trades"),
      s"transcript:\n$t")
    assert(t.contains("select"), s"transcript:\n$t")
    assert(t.contains("(no completions)"), s"transcript:\n$t")
    // bare `\t` (and `\t ` — trim eats the trailing space) = empty
    // prefix = ALL candidates, the raw-mode TAB binding's first press;
    // it must not fall through to the unknown-meta-command help
    val bare = transcript("\\t", "\\q")
    assert(!bare.contains("unknown meta command"), s"transcript:\n$bare")
    assert(bare.contains("select"), s"transcript:\n$bare")
  }

  test("\\t completion offers every pipeline verb from the dialect's verb table") {
    val t = transcript("\\t cla", "\\q")
    assert(t.contains("classify classifytrain"), s"transcript:\n$t")
    val all = Repl.completions(spark, new sql.KerfSql.Interp(spark), "")
    assert(sql.KerfSql.verbNames.forall(all.contains),
      s"missing: ${sql.KerfSql.verbNames.filterNot(all.contains)}")
  }

  test("\\s / \\l: workspace save and load round-trip through the live session") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_repl_ws").toString
    spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("ws_t")
    val t = transcript(
      "ws_base: 100",
      "def ws_f(x) { return x + ws_base }",
      s"\\s $dir/ws ws_t",
      "\\q")
    assert(t.contains("program state"), s"transcript:\n$t")
    // a FRESH session (new runLoop = new Interp) restores tables AND
    // program state — the reference's workspace_load rerun contract
    spark.catalog.dropTempView("ws_t")
    val t2 = transcript(
      s"\\l $dir/ws",
      "select sum(v) as s from ws_t",
      "ws_f(11)",
      "\\q")
    assert(t2.contains("ws_t"), s"transcript:\n$t2")
    assert(t2.linesIterator.map(_.trim).contains("20"),
      s"transcript:\n$t2") // sum(0,2,4,6,8) = 20
    assert(t2.linesIterator.map(_.trim).contains("111"), s"transcript:\n$t2")
  }

  test("\\tables lists the catalog; meta-command errors return to the prompt") {
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(lit(1).as("x"))
      .createOrReplaceTempView("listme_t")
    val t = transcript(
      "\\tables",
      "\\l /nonexistent_graft_dir_xyz",
      "2 + 2",
      "\\q")
    assert(t.contains("listme_t"), s"transcript:\n$t")
    // the failed load printed an error line and the loop kept going
    assert(t.linesIterator.map(_.trim).contains("4"), s"transcript:\n$t")
  }
}
