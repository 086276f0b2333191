package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Temporal
import graft.ops.Verbs

/** Textual front-end for the Kerf language surface the reference's parser
  * defines but never evaluates: SQL heads (`select/update/insert/upsert/
  * delete` with `from/where/group/order/limit/values/set` middles,
  * /root/reference/lexer.h:103–104, clause scooping parser.h:541–567,
  * interpreter stub interpreter.h:8–23) PLUS the verbal/adverbial
  * expression language those clauses embed (token grouping
  * parser.h:431–507, lambda-args re-mark parser.h:471–487, literal DFAs
  * lexer.h:212–364):
  *
  *  - lambdas `{[x,y] x+y}` applied through adverbs or calls;
  *  - adverbs `fold/over`, `unfold/scan`, `mapdown/each`,
  *    `mapback/eachprior`, `mapright`, `mapleft` — infix
  *    (`{[x] x+1} mapdown til 10`) and call form (`fold(+, 1 2 3)`),
  *    golden semantics from /root/reference/test.cc:330–346;
  *  - vector literals `1 2 3` (juxtaposition) and JSON-style `[1,2,3]`
  *    (Kerf is a JSON superset);
  *  - temporal literals: stamps `2024.01.05`, `2024.01.05T12:00:00`
  *    (lexer.h ABS_DATE/ABS_DATETIME) and spans `1y2m`, `3d4h5i`
  *    (REL_DATETIME, lexer.h:247–311) via [[Temporal.Span.parse]] —
  *    `where ts > 2024.01.01 + 1d2h` parses and lowers to calendar-aware
  *    stamp arithmetic;
  *  - backtick symbols `` `sym `` (lexed as string atoms);
  *  - `til n` / `range n` (verbs.cc:86–91);
  *  - clause keywords without `by` (`group a`, `order -a` descending).
  *
  * Expressions are typed bottom-up (literal/schema types propagated
  * through a plan-time mini type system) so binary verbs PERVADE like the
  * reference's rank-polymorphic dispatch (verbs.cc:32–83): `+` over
  * (array, scalar) lowers to `transform`, (array, array) to `zip_with` —
  * all inside whole-stage codegen, never a UDF.
  *
  * A statement whose head is no SQL keyword is evaluated as a bare Kerf
  * expression and returned as a one-row DataFrame (column `value`) — the
  * reference REPL's expression statements.
  *
  * Lowering is to the DataFrame API — Catalyst does the optimizing; this
  * class is ~pure syntax. Mutations lower to [[graft.ops.TableOps]].
  */
object KerfSql {

  /** Strip a string literal's outer quotes and unescape doubled quotes
    * (`''` = one literal `'` — the SQL convention, so programs shipped
    * over rexec can themselves contain string literals). */
  private def unq(t: String): String =
    t.substring(1, t.length - 1).replace("''", "'")

  // ---------------------------------------------------------------- lexer
  private val spanReStr = """\d+[ymdhistun](?:\d+[ymdhistun])*"""
  private val tokenRe =
    ("""\s*(""" +
     """\d{4}\.\d{2}\.\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?|""" + // datetime lit
     """\d{4}\.\d{2}\.\d{2}|""" +                             // date lit
     spanReStr + """|""" +                                    // span lit (1d2h)
     """\d+\.\d+|\.\d+|\d+|""" +                              // numbers
     """'(?:[^']|'')*'|""" +                                  // string lit ('' = a literal quote)
     """`[A-Za-z_][A-Za-z0-9_]*|""" +                         // backtick symbol
     """>>=|>>|<<|<=|>=|!=|<>|==|[(),*+\-/%<>=\[\]{};:.]|""" + // operators (file verbs first; bare `.` = postfix field access)
     """[A-Za-z_][A-Za-z0-9_.]*""" +                          // idents
     """)""").r

  /** Tokenize; rejects unlexable residue instead of silently dropping it
    * (the reference lexer fails the parse on any unmatched byte). */
  private def lex(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var pos = 0
    while (pos < s.length) {
      tokenRe.findPrefixMatchOf(s.subSequence(pos, s.length)) match {
        case Some(m) if m.end > 0 => out += m.group(1); pos += m.end
        case _ =>
          if (s.substring(pos).trim.isEmpty) pos = s.length
          else throw new IllegalArgumentException(
            s"unlexable input at offset $pos: '${s.substring(pos).take(20)}…'")
      }
    }
    out.toList
  }

  // ---------------------------------------------------------------- parser
  private class P(var toks: List[String]) {
    def peek: Option[String] = toks.headOption
    def peekIs(s: String): Boolean = peek.exists(_.equalsIgnoreCase(s))
    def peek2: Option[String] = toks.drop(1).headOption
    def peek3: Option[String] = toks.drop(2).headOption
    def pop(): String = { val h = toks.head; toks = toks.tail; h }
    def expect(s: String): Unit = {
      val t = pop()
      require(t.equalsIgnoreCase(s), s"expected '$s', got '$t'")
    }
    def done: Boolean = toks.isEmpty
    /** True while parsing a comma-separated select item — fby's
      * multi-key comma loop is disabled there so `select x = max(x) by
      * k, b …` cannot absorb the following item `b` as a partition
      * key (`by` takes exactly one key in item context; use a where
      * clause for multi-key fby). */
    var inSelectItem: Boolean = false
  }

  private val clauseWords = Set("from", "where", "group", "order", "limit",
    "select", "set", "values", "into")
  // `countd` and the statistical family have their own parse branches
  // but are aggregates for the windowed-select mix guard: without them
  // here, `select sums(x), countd(y) …` would leak a raw Spark analysis
  // error instead of the friendly "cannot mix" rejection.
  private val statAggFns = Set("wavg", "var", "dev", "cov", "cor")
  private val aggFns = Set("sum", "avg", "min", "max", "count", "pctl",
    "countd", "collect", "med") ++ statAggFns
  /** Windowed TABLE verbs — the down-the-rows forms of the adverb family
    * (unfold/scan ⇒ running aggregates, mapback/eachprior ⇒ prev/deltas;
    * reference semantics adverbs.h:76–120, 157–206) as select items:
    * `select user_id, ts, sums(value) from t group user_id order ts`
    * lowers to a frame-bounded window over PARTITION BY the group items
    * ORDER BY the order items — ops.Adverbs.scanRows/eachPriorRows made
    * first-class in the dialect. */
  private val windowVerbs = Set("sums", "avgs", "mins", "maxs", "counts",
    "deltas", "prev", "nexts", "ratios", "ranks", "ntiles",
    "fills", "bfills", "wavgs", "differs",
    "emas", "msums", "mavgs", "mmins", "mmaxs", "mcounts", "mvars", "mdevs")
  /** Fixed-width moving aggregates (`msums(5, x)` = rolling 5-row sum) —
    * the q-family msum/mavg heritage down the table's rows: a bounded
    * ROWS frame instead of the running UNBOUNDED PRECEDING one.
    * `mvars/mdevs` are the rolling POPULATION variance/deviation (tick
    * volatility), on the same exact-decimal-sum discipline as the
    * var/dev aggregates. */
  private val movingVerbs = Set("msums", "mavgs", "mmins", "mmaxs",
    "mcounts", "mvars", "mdevs")
  private val listVerbs = Set("length", "upper", "lower", "reverse",
    "first", "last", "enlist", "join", "find", "keys", "values", "amend",
    "take", "drop", "distinct", "ascend", "descend", "flip", "bars",
    "abs", "sqrt", "exp", "ln", "floor", "ceil",
    "asc", "desc", "union", "intersect", "except",
    "substr", "replace", "ssr", "rlike", "split", "trim", "ltrim",
    "rtrim", "lpad", "rpad",
    "long", "double", "string", "stamp", "nanos", "bigint",
    "randu64", "randu01", "splitid", "rand", "deal", "shuffle",
    "band", "bor", "bxor", "bnot", "shl", "shr", "popcount",
    "log2floor", "ispow2")
  private val verbSyms = Set("+", "-", "*", "/", "%")
  private val adverbNames = Set("fold", "over", "unfold", "scan",
    "mapdown", "each", "mapback", "eachprior", "mapright", "mapleft")

  /** A typed plan-time value: the Column, its DataType (drives pervasive
    * dispatch), and — for span literals — the parsed Span (spans are a
    * distinct unit family in Kerf, enums.h:166; they only merge with
    * stamps/longs through +/-). */
  private case class T(col: Column, dt: DataType, span: Option[Temporal.Span] = None)

  /** Typing environment: the FROM table's schema + lambda parameters /
    * program variables + named functions (`def`) + — inside a windowed
    * select — the window spec the table verbs (sums/deltas/…) close over. */
  private class Env(val schema: Option[StructType], val vars: Map[String, T],
                    val funcs: Map[String, FVal] = Map.empty,
                    val wspec: Option[org.apache.spark.sql.expressions.WindowSpec] = None,
                    val tnames: Set[String] = Set.empty,
                    // first order-clause key (source tokens, lowercased) —
                    // only so `ranks(c)` can reject an argument that is NOT
                    // what the rank actually runs on
                    val firstOrderKey: Option[List[String]] = None,
                    // the SESSION the program runs on — schema inference
                    // must sample ITS temp views, never SparkSession.active
                    // (a multi-session driver resolves views per session)
                    val session: Option[SparkSession] = None) {
    def bind(ps: Seq[(String, T)]): Env =
      new Env(schema, vars ++ ps, funcs, wspec, tnames, firstOrderKey, session)
    def withWspec(w: org.apache.spark.sql.expressions.WindowSpec,
                  firstKey: Option[List[String]]): Env =
      new Env(schema, vars, funcs, Some(w), tnames, firstKey, session)
  }
  private def emptyEnv = new Env(None, Map.empty)

  private def resolveIdent(name: String, env: Env): T =
    env.vars.get(name).orElse(
      env.schema.flatMap(_.find(_.name.equalsIgnoreCase(name))
        .map(f => T(col(f.name), f.dataType))))
      .orElse(resolvePath(name, env))
      .getOrElse(T(col(name), NullType)) // late-bound (group/order names etc.)

  /** Dotted FIELD PATHS — the ATLAS/nested-document access surface
    * (/root/reference/enums.h:262; SURVEY §1.7 maps the doc store to
    * nested StructType): `props.device.os` walks struct fields (typed,
    * case-insensitive) and string-keyed maps from a root column or
    * variable. A leading segment naming a FROM table (`t.props.k`) is
    * skipped when the remainder resolves — the common qualified form
    * after a join; arbitrary prefixes do NOT qualify (a typo'd table
    * name stays an error). Missing-path semantics are Spark's: absent
    * struct field = plan-time error (caught at walk), absent MAP key =
    * null. */
  private def resolvePath(name: String, env: Env): Option[T] = {
    if (!name.contains(".")) return None
    val parts = name.split("\\.").toList
    def root(seg: String): Option[T] =
      env.vars.get(seg).orElse(
        env.schema.flatMap(_.find(_.name.equalsIgnoreCase(seg))
          .map(f => T(col(f.name), f.dataType))))
    def walk(base: T, rest: List[String]): Option[T] =
      rest.foldLeft(Option(base))((acc, seg) => acc.flatMap(b =>
        try Some(fieldAccess(b, seg))
        catch { case _: IllegalArgumentException => None }))
    root(parts.head).flatMap(walk(_, parts.tail))
      .orElse(
        // alias-qualified form: the skipped head must be an actual FROM
        // table name — an arbitrary prefix resolving silently would make
        // typos (`ordersx.o_custkey`) legal
        if (parts.lengthCompare(2) >= 0 && env.tnames(parts.head.toLowerCase))
          root(parts(1)).flatMap(walk(_, parts.drop(2)))
        else None)
  }

  /** One field-path step: struct → typed getField; string-keyed map →
    * element_at (null when absent — the doc-store lookup miss). */
  private def fieldAccess(t: T, field: String): T = t.dt match {
    case st: StructType =>
      st.fields.find(_.name.equalsIgnoreCase(field)) match {
        case Some(f) => T(t.col.getField(f.name), f.dataType)
        case None => throw new IllegalArgumentException(
          s"no field '$field' in struct<${st.fieldNames.mkString(", ")}>")
      }
    case MapType(StringType, vdt, _) => T(element_at(t.col, lit(field)), vdt)
    case other => throw new IllegalArgumentException(
      s"field access '.$field' needs a struct or string-keyed map, got $other")
  }

  // ------------------------------------------------------------- type algebra
  private def widenArith(x: DataType, y: DataType): DataType = (x, y) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => ArrayType(widenArith(ea, eb))
    case (ArrayType(ea, _), s)                => ArrayType(widenArith(ea, s))
    case (s, ArrayType(eb, _))                => ArrayType(widenArith(s, eb))
    case (TimestampType, _) | (_, TimestampType) => TimestampType
    case (DateType, _) | (_, DateType)        => DateType
    case (StringType, _) | (_, StringType)    => StringType
    case (DoubleType | FloatType, _)          => DoubleType
    case (_, DoubleType | FloatType)          => DoubleType
    // decimals (the bigint family) stay EXACT under +,-,* with decimals
    // and integrals; mixing with doubles (handled above) is the caller
    // opting into binary rounding. The label tracks scale, not the
    // op-specific precision — the physical column carries Spark's own
    // decimal result type; this label only drives rank/branch dispatch.
    case (a: DecimalType, b: DecimalType)     => DecimalType(38, a.scale max b.scale)
    case (d: DecimalType, _)                  => DecimalType(38, d.scale)
    case (_, d: DecimalType)                  => DecimalType(38, d.scale)
    case _                                    => LongType
  }

  private def elemOf(t: T): DataType = t.dt match {
    case ArrayType(e, _) => e
    case other => throw new IllegalArgumentException(
      s"adverb operand must be an array, got $other")
  }

  /** Pervasive dyad (verbs.cc:32–83): plan-time rank dispatch. */
  private def dyad(a: T, b: T)(f: (Column, Column) => Column,
                               rt: (DataType, DataType) => DataType = widenArith): T =
    T(Verbs.pervade(a.dt, b.dt)(a.col, b.col)(f), rt(a.dt, b.dt))

  /** +/- with span support: stamp±span is calendar arithmetic, long±span
    * is exact ns arithmetic, span±span combines; everything else pervades. */
  private def addSub(a: T, b: T, plus: Boolean): T = (a.span, b.span) match {
    case (Some(s1), Some(s2)) =>
      spanT(if (plus) s1 + s2 else s1 - s2)
    case (None, Some(sp0)) =>
      val sp = if (plus) sp0 else -sp0
      a.dt match {
        case TimestampType | DateType =>
          T(Temporal.addSpan(a.col.cast(TimestampType), sp), TimestampType)
        case LongType | IntegerType => T(Temporal.addSpanNs(a.col, sp), LongType)
        case other => throw new IllegalArgumentException(
          s"span arithmetic needs a stamp or ns-long left side, got $other")
      }
    case (Some(_), None) =>
      throw new IllegalArgumentException("span literal must be on the right of +/-")
    case _ =>
      def stampish(dt: DataType) = dt match {
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }
      if (stampish(a.dt) && stampish(b.dt)) {
        // stamp - stamp = a FIXED-NS SPAN (t-t = 0span, test.cc:299) —
        // the generic dyad would produce Spark's DayTimeIntervalType
        // while the type label said TimestampType, misrouting every
        // downstream dispatch (stamp attrs, span adds) into raw engine
        // cast errors. Exact at the µs the stamps physically carry.
        require(!plus, "stamp + stamp is undefined — subtract for a span, " +
          "or add a span literal to a stamp")
        T(Temporal.diffNs(a.col.cast(TimestampType), b.col.cast(TimestampType)),
          LongType)
      } else dyad(a, b)(if (plus) _ + _ else _ - _)
  }

  /** Fixed-length spans are ns longs; CALENDAR spans (months ≠ 0) carry a
    * CalendarInterval literal so a month-span used as a plain VALUE
    * (`1y`, `select 1y as x`) renders instead of NPE-ing — stamp±span
    * arithmetic still goes through the exact Span (the interval literal's
    * sub-µs truncation never reaches it). */
  private def spanT(sp: Temporal.Span): T =
    if (sp.months == 0) T(lit(sp.nanos), LongType, Some(sp))
    else T(org.apache.spark.sql.GraftColumnGlue.toColumn(
        org.apache.spark.sql.catalyst.expressions.Literal(
          new org.apache.spark.unsafe.types.CalendarInterval(sp.months.toInt, 0, sp.nanos / 1000L),
          CalendarIntervalType)),
      CalendarIntervalType, Some(sp))

  private def negT(t: T): T = t.span match {
    case Some(sp) => spanT(-sp)
    case None     => T(Verbs.neg(t.dt)(t.col), t.dt)
  }

  // ------------------------------------------------------------- functions
  private sealed trait FVal { def apply(args: Seq[T]): T }

  private case class Lambda(params: Seq[String], body: List[String], defEnv: Env) extends FVal {
    def apply(args: Seq[T]): T = {
      require(args.length == params.length,
        s"lambda expects ${params.length} args (${params.mkString(",")}), got ${args.length}")
      var env = defEnv.bind(params.zip(args))
      val stmts = splitTop(body)
      require(stmts.nonEmpty, "lambda body is empty")
      // Leading statements are `name: expr` LAZY let-bindings (pure plan
      // composition — they may reference lambda vars, so no driver
      // evaluation here, unlike top-level colon assignment) or
      // `if (cond) { return expr }` early returns. A lambda stays pure
      // column algebra (it may run per-ROW inside a select), so an early
      // return is not driver control flow — the guards stack into one
      // CASE WHEN chain over the final expression, evaluated wherever
      // the row lives (the Spark-native reading of ctrl_return,
      // lexer.h:100: a conditional return in an expression language IS
      // a conditional expression).
      val guards = scala.collection.mutable.ListBuffer[(T, T)]()
      stmts.init.foreach { st =>
        val p2 = new P(st)
        if (p2.peekIs("if")) {
          p2.pop(); p2.expect("(")
          val cond = parseExpr(p2, env)
          p2.expect(")"); p2.expect("{")
          val inner = blockBody(p2)
          require(p2.done, s"trailing tokens after if: ${p2.toks.mkString(" ")}" +
            " (lambda if-blocks take no else — stack sequential returns instead)")
          val ip = new P(inner)
          ip.expect("return")
          val v = parseExpr(ip, env)
          require(ip.done, s"lambda if-block must be a single `return expr`: ${inner.mkString(" ")}")
          guards += cond -> v
        } else {
          val name = p2.pop()
          require(p2.peek.contains(":"),
            s"lambda body statement must be a let-binding or `if (…) { return … }`: ${st.mkString(" ")}")
          p2.pop()
          val t = parseExpr(p2, env)
          require(p2.done, s"trailing tokens in let-binding: ${p2.toks.mkString(" ")}")
          env = env.bind(Seq(name -> t))
        }
      }
      val p2 = new P(stmts.last)
      if (p2.peekIs("return")) p2.pop() // optional explicit final return
      val fin = parseExpr(p2, env)
      require(p2.done, s"trailing tokens in lambda body: ${p2.toks.mkString(" ")}")
      guards.foldRight(fin) { case ((c, v), acc) =>
        val dt = if (v.dt == acc.dt) acc.dt else widenArith(v.dt, acc.dt)
        T(when(c.col, v.col.cast(dt)).otherwise(acc.col.cast(dt)), dt)
      }
    }
  }

  private case class VerbFun(sym: String) extends FVal {
    def apply(args: Seq[T]): T = {
      require(args.length == 2, s"verb '$sym' is dyadic, got ${args.length} args")
      val Seq(a, b) = args
      sym match {
        case "+" => addSub(a, b, plus = true)
        case "-" => addSub(a, b, plus = false)
        case "*" => dyad(a, b)(_ * _)
        case "/" => dyad(a, b)(_ / _, (_, _) => DoubleType)
        case "%" => dyad(a, b)(_ % _)
      }
    }
  }

  /** Result type of applying f to args of the given types — computed by a
    * throwaway application to typed nulls (plan-time only). */
  private def resultDt(f: FVal, argTypes: Seq[DataType]): DataType =
    f(argTypes.map(dt => T(lit(null).cast(dt), dt))).dt

  private def parseFun(p: P, env: Env): FVal = p.peek match {
    case Some("{") => parseLambda(p, env)
    case Some("(") if p.peek2.exists(verbSyms) && p.peek3.contains(")") =>
      p.pop(); val v = p.pop(); p.expect(")"); VerbFun(v)
    case Some(v) if verbSyms(v) => p.pop(); VerbFun(v)
    case other => throw new IllegalArgumentException(
      s"expected a function (lambda or verb), got $other")
  }

  private def parseLambda(p: P, env: Env): Lambda = {
    p.expect("{")
    val params = scala.collection.mutable.ArrayBuffer[String]()
    if (p.peekIs("[")) {
      p.pop()
      while (!p.peekIs("]")) {
        params += p.pop()
        if (p.peekIs(",") || p.peekIs(";")) p.pop()
      }
      p.expect("]")
    }
    // body = tokens to the matching close brace (nesting-aware)
    val body = scala.collection.mutable.ListBuffer[String]()
    var depth = 1
    while (depth > 0) {
      require(!p.done, "unterminated lambda: missing '}'")
      val t = p.pop()
      t match {
        case "{" => depth += 1; body += t
        case "}" => depth -= 1; if (depth > 0) body += t
        case _   => body += t
      }
    }
    Lambda(params.toSeq, body.toList, env)
  }

  // ------------------------------------------------------------- adverbs
  /** Adverb lowering (adverbs.h:34–206 semantics; goldens
    * test.cc:330–346). Array-local: higher-order functions, codegen'd,
    * shuffle-free — the distributed meaning of "within one row". */
  private def applyAdverb(name: String, f: FVal, args: Seq[T]): T = {
    def mapdown(xs: T): T = {
      val e = elemOf(xs)
      T(transform(xs.col, x => f(Seq(T(x, e))).col), ArrayType(resultDt(f, Seq(e))))
    }
    def fold1(xs: T): T = {
      val e = elemOf(xs); val rDt = resultDt(f, Seq(e, e))
      T(when(size(xs.col) === 0, lit(null).cast(rDt)).otherwise(
          aggregate(slice(xs.col, lit(2), greatest(size(xs.col) - 1, lit(0))),
            element_at(xs.col, 1).cast(rDt),
            (acc, v) => f(Seq(T(acc, rDt), T(v, e))).col.cast(rDt))), rDt)
    }
    def foldSeeded(seed: T, xs: T): T = {
      val e = elemOf(xs); val accDt = resultDt(f, Seq(seed.dt, e))
      T(aggregate(xs.col, seed.col.cast(accDt),
          (acc, v) => f(Seq(T(acc, accDt), T(v, e))).col.cast(accDt)), accDt)
    }
    def unfold1(xs: T): T = {
      val e = elemOf(xs); val rDt = resultDt(f, Seq(e, e))
      T(when(size(xs.col) === 0, array().cast(ArrayType(rDt))).otherwise(
          transform(sequence(lit(1), size(xs.col)), i =>
            aggregate(slice(xs.col, lit(2), i - 1), element_at(xs.col, 1).cast(rDt),
              (acc, v) => f(Seq(T(acc, rDt), T(v, e))).col.cast(rDt)))),
        ArrayType(rDt))
    }
    def unfoldSeeded(seed: T, xs: T): T = {
      val e = elemOf(xs); val accDt = resultDt(f, Seq(seed.dt, e))
      // prefix i=0 yields the seed itself — unfold(add,[1,2,3],[1,2,3]) =
      // [[1,2,3],[2,3,4],[4,5,6],[7,8,9]] (test.cc:341)
      T(transform(sequence(lit(0), size(xs.col)), i =>
          aggregate(slice(xs.col, lit(1), i), seed.col.cast(accDt),
            (acc, v) => f(Seq(T(acc, accDt), T(v, elemOf(xs)))).col.cast(accDt))),
        ArrayType(accDt))
    }
    def mapback(xs: T, seedOpt: Option[T]): T = {
      val e = elemOf(xs)
      val seed = seedOpt.getOrElse(T(element_at(xs.col, 1), e))
      val pe = widenArith(e, seed.dt)
      val rDt = resultDt(f, Seq(e, pe))
      val prior = concat(array(seed.col.cast(pe)),
        slice(xs.col, lit(1), greatest(size(xs.col) - 1, lit(0))).cast(ArrayType(pe)))
      // f(current, prior): mapback(-, range(4), 4) = [-4,1,1,1] (test.cc:344)
      T(when(size(xs.col) === 0, array().cast(ArrayType(rDt))).otherwise(
          zip_with(xs.col, prior, (x, pr) => f(Seq(T(x, e), T(pr, pe))).col)),
        ArrayType(rDt))
    }
    def mapright(x: T, xs: T): T = {
      val e = elemOf(xs)
      T(transform(xs.col, y => f(Seq(x, T(y, e))).col), ArrayType(resultDt(f, Seq(x.dt, e))))
    }
    def mapleft(xs: T, y: T): T = {
      val e = elemOf(xs)
      T(transform(xs.col, x => f(Seq(T(x, e), y)).col), ArrayType(resultDt(f, Seq(e, y.dt))))
    }
    (name, args) match {
      case ("mapdown" | "each", Seq(xs))        => mapdown(xs)
      case ("fold" | "over", Seq(xs))           => fold1(xs)
      case ("fold" | "over", Seq(seed, xs))     => foldSeeded(seed, xs)
      case ("unfold" | "scan", Seq(xs))         => unfold1(xs)
      case ("unfold" | "scan", Seq(seed, xs))   => unfoldSeeded(seed, xs)
      case ("mapback" | "eachprior", Seq(xs))       => mapback(xs, None)
      case ("mapback" | "eachprior", Seq(xs, seed)) => mapback(xs, Some(seed))
      case ("mapright", Seq(x, xs))             => mapright(x, xs)
      case ("mapleft", Seq(xs, y))              => mapleft(xs, y)
      case _ => throw new IllegalArgumentException(
        s"adverb '$name' does not take ${args.length} operands")
    }
  }

  /** A function value must be applied: `f adverb operand` (infix) or
    * `f(args)` (call). */
  private def applyFunSite(f: FVal, p: P, env: Env): T = p.peek match {
    case Some(w) if adverbNames(w.toLowerCase) =>
      val adv = p.pop().toLowerCase
      applyAdverb(adv, f, Seq(parseAdd(p, env)))
    case Some("(") =>
      p.pop()
      val args = scala.collection.mutable.ArrayBuffer[T]()
      if (!p.peekIs(")")) {
        args += parseExpr(p, env)
        while (p.peekIs(",")) { p.pop(); args += parseExpr(p, env) }
      }
      p.expect(")")
      f(args.toSeq)
    case other => throw new IllegalArgumentException(
      s"function value must be applied via adverb or call, got $other")
  }

  // ------------------------------------------------------------- expressions
  /** Precedence, loosest to tightest: or, and, comparisons, add/sub,
    * mul/div/mod, primary — `a and b or c` is `(a and b) or c`,
    * standard SQL precedence. */
  private def parseExpr(p: P, env: Env): T = parseOr(p, env)

  private def parseOr(p: P, env: Env): T = {
    var left = parseAnd(p, env)
    while (p.peekIs("or")) {
      p.pop()
      left = T(left.col || parseAnd(p, env).col, BooleanType)
    }
    left
  }

  private def parseAnd(p: P, env: Env): T = {
    var left = parseCmp(p, env)
    while (p.peekIs("and")) {
      p.pop()
      left = T(left.col && parseCmp(p, env).col, BooleanType)
    }
    left
  }

  /** Aggregates that may window for the fby form (single aggregate
    * function — a compound like wavg cannot `.over` as one unit). */
  private val fbyAggFns = Set("sum", "avg", "min", "max", "count", "pctl")

  private def parseCmp(p: P, env: Env): T = {
    var left = parseAdd(p, env)
    // `x in (a, b, c)` / `x not in (…)` — the SQL/q membership
    // predicate as sugar over Column.isin (the q06/q20 membership
    // family at the expression level). Values are full expressions.
    val notIn = p.peekIs("not") && p.peek2.exists(_.equalsIgnoreCase("in")) &&
      p.peek3.contains("(")
    if (notIn || (p.peekIs("in") && p.peek2.contains("("))) {
      if (notIn) p.pop()
      p.pop(); p.expect("(")
      val items = scala.collection.mutable.ArrayBuffer[T](parseExpr(p, env))
      while (p.peekIs(",")) { p.pop(); items += parseExpr(p, env) }
      p.expect(")")
      val in = left.col.isin(items.toSeq.map(_.col): _*)
      left = T(if (notIn) !in else in, BooleanType)
    }
    // `s like '%pat%'` / `s not like '…'` — the SQL wildcard predicate
    // (% any run, _ one char; SURVEY §2.8 string row adopts like/regexp_*).
    // The pattern is a full expression; regex matching is the rlike(s, re)
    // verb.
    val notLike = p.peekIs("not") && p.peek2.exists(_.equalsIgnoreCase("like"))
    if (notLike || p.peekIs("like")) {
      if (notLike) p.pop()
      p.pop()
      val pat = parseAdd(p, env)
      val lk = call_function("like", left.col, pat.col)
      left = T(if (notLike) !lk else lk, BooleanType)
    }
    while (p.peek.exists(t => Set("<", ">", "<=", ">=", "=", "==", "!=", "<>").contains(t))) {
      val op = p.pop()
      val beforeRight = p.toks
      val right = parseAdd(p, env)
      // q's FBY: `x = max(x) by k1, k2` — the right-side aggregate
      // evaluates OVER the partition keys (one window, no self-join)
      // and is compared per row: the groupwise-max/min/mean filter
      // idiom (kdb/q fby; Kerf1 heritage). The window runs over the
      // FROM table as a whole — the where clause is ONE expression
      // here, not q's sequential clause list; pre-filter in a prior
      // statement when the aggregate should see a subset.
      // the right side must be EXACTLY one aggregate call to window as
      // a unit: `max(x)` fby-windows; `max(x) + 1` cannot (.over on a
      // compound is a raw Spark analysis error) — reject it loudly
      // with the staging workaround instead of leaking that error
      val consumed = beforeRight.take(beforeRight.length - p.toks.length)
      def singleAggCall: Boolean =
        consumed.lengthCompare(3) >= 0 && consumed(1) == "(" && {
          var depth = 0; var close = -1; var i = 1
          while (i < consumed.length && close < 0) {
            if (consumed(i) == "(") depth += 1
            else if (consumed(i) == ")") { depth -= 1; if (depth == 0) close = i }
            i += 1
          }
          close == consumed.length - 1
        }
      val rightCol =
        if (p.peekIs("by") &&
            consumed.headOption.exists(t => fbyAggFns(t.toLowerCase))) {
          require(singleAggCall,
            s"fby windows exactly one aggregate call (x = max(x) by k); " +
            s"got '${consumed.mkString(" ")}' — stage the compound " +
            "expression in a prior select/assignment, then compare")
          p.pop()
          import org.apache.spark.sql.expressions.Window
          val keys = scala.collection.mutable.ArrayBuffer[Column](parsePostfix(p, env).col)
          while (!p.inSelectItem && p.peekIs(",")) { p.pop(); keys += parsePostfix(p, env).col }
          right.col.over(Window.partitionBy(keys.toSeq: _*))
        } else right.col
      // `set eq kerf`: equality between numeric operands with a STATIC
      // float/double side lowers to the reference's tolerant equality
      // (native codegen EpsilonEquals — NaN==NaN==null, |a-b| <=
      // eps·max(|a|,|b|) on finite pairs; test.cc:102–108,
      // grade.cc:9–41). NEVER null-producing, so `!=` is the exact
      // complement instead of null-swallowing mixed null/finite pairs.
      // Deliberately narrow: ordering comparisons (< <= > >=) stay
      // ANSI, as do operands whose dtype is unknown (late-bound) or
      // non-numeric, and spans/stamps; join `on` keys never pass
      // through here, so equi-joins stay exact hash joins either way.
      def floatSided: Boolean = {
        import org.apache.spark.sql.types.NumericType
        val dts = Seq(left.dt, right.dt)
        left.span.isEmpty && right.span.isEmpty &&
          dts.forall(_.isInstanceOf[NumericType]) &&
          dts.exists(d => d == DoubleType || d == FloatType)
      }
      val kerfEqMode = modeOf("eq") == "kerf"
      val c = op match {
        case "<" => left.col < rightCol;   case ">" => left.col > rightCol
        case "<=" => left.col <= rightCol; case ">=" => left.col >= rightCol
        case "=" | "==" if kerfEqMode && floatSided =>
          graft.functions.EpsilonEquals.eps_eq(left.col, rightCol)
        case "=" | "==" => left.col === rightCol
        case "!=" | "<>" if kerfEqMode && floatSided =>
          !graft.functions.EpsilonEquals.eps_eq(left.col, rightCol)
        case "!=" | "<>" => left.col =!= rightCol
      }
      left = T(c, BooleanType)
    }
    left
  }

  private def parseAdd(p: P, env: Env): T = {
    var left = parseMul(p, env)
    while (p.peek.exists(t => t == "+" || t == "-")) {
      val op = p.pop()
      left = addSub(left, parseMul(p, env), plus = op == "+")
    }
    left
  }

  private def parseMul(p: P, env: Env): T = {
    var left = parsePostfix(p, env)
    while (p.peek.exists(t => t == "*" || t == "/" || t == "%")) {
      val op = p.pop()
      val right = parsePostfix(p, env)
      left = op match {
        case "*" => dyad(left, right)(_ * _)
        case "/" => dyad(left, right)(_ / _, (_, _) => DoubleType)
        case "%" => dyad(left, right)(_ % _)
      }
    }
    left
  }

  /** Kerf `operator[]` (0-based): `v[2]` indexes one, `v[[0,2]]` indexes
    * many (index one/many, /root/reference/presented.h operator[]);
    * dicts index by key (`d['a']`). */
  private def parsePostfix(p: P, env: Env): T = {
    var t = parsePrimary(p, env)
    while (p.peek.contains("[") || p.peek.contains(".")) {
      if (p.peek.contains(".")) {
        // postfix field access on an EXPRESSION result:
        // `fromjson(props, 'k int').k` — the dotted-ident fast path in
        // resolveIdent covers bare column paths; this covers computed
        // structs. The popped segment may itself be a dotted ident
        // (`.device.os` lexes as `.` + `device.os`) — walk every hop.
        p.pop()
        val seg = p.pop()
        require(seg.matches("[A-Za-z_][A-Za-z0-9_.]*"),
          s"expected a field name after '.', got '$seg'")
        seg.split("\\.").foreach { f => t = fieldAccess(t, f) }
      } else {
      p.pop()
      // STAMP ATTRIBUTE INDEXING (Kerf1's `ts['year']`/`ts['date']`
      // accessor face — stamps answer date-part keys like a dict;
      // reference temporal surface lexer.h:247–311, presented.h:150–185):
      // a string-literal index on a TimestampType routes to the date-part
      // family instead of element indexing. A string-literal index on a
      // LONG routes to the same family on the int64-ns lane (nsAttr) —
      // pure long arithmetic, never a µs round-trip, so sub-µs bits
      // survive (previously a loud type error, so no meaning changed).
      if ((t.dt == TimestampType || t.dt == TimestampNTZType) &&
          p.peek.exists(_.startsWith("'"))) {
        val key = unq(p.pop())
        p.expect("]")
        t = stampAttr(t, key)
      } else if (t.dt == LongType && p.peek.exists(_.startsWith("'"))) {
        val key = unq(p.pop())
        p.expect("]")
        t = nsAttr(t, key)
      } else {
      val idx = parseExpr(p, env)
      p.expect("]")
      t = (t.dt, idx.dt) match {
        case (MapType(_, vdt, _), ArrayType(_, _)) => // d[keys] → values (test.cc:410)
          val tc = t.col
          T(transform(idx.col, k => element_at(tc, k)), ArrayType(vdt))
        case (MapType(_, vdt, _), _) => T(element_at(t.col, idx.col), vdt)
        case (_, ArrayType(_, _)) =>
          val tc = t.col; val e = elemOf(t)
          T(transform(idx.col, i => element_at(tc, (i + 1).cast("int"))), ArrayType(e))
        case _ => T(element_at(t.col, (idx.col + 1).cast("int")), elemOf(t))
      }
      }
      }
    }
    t
  }

  /** The date-part family behind stamp attribute indexing. Integer
    * parts are LongType (Kerf's 64-bit INT); `dow` is ISO (1=Monday);
    * `ms`/`us` are within-second remainders; `date` truncates. */
  private def stampAttr(t: T, key: String): T = {
    val c = t.col.cast(TimestampType) // NTZ → TS is identity under UTC
    def L(x: Column) = T(x.cast("long"), LongType)
    key match {
      case "year"   => L(year(c))
      case "month"  => L(month(c))
      case "day" | "mday" => L(dayofmonth(c))
      case "hour"   => L(hour(c))
      case "minute" => L(minute(c))
      case "second" => L(second(c))
      case "millisecond" | "ms" =>
        L(call_function("div", pmod(unix_micros(c), lit(1000000L)), lit(1000L)))
      case "microsecond" | "us" => L(pmod(unix_micros(c), lit(1000000L)))
      case "date" => T(to_date(c), DateType)
      case "dow"  => L(weekday(c) + lit(1)) // ISO: 1=Monday … 7=Sunday
      case "doy"  => L(dayofyear(c))
      case "week" => L(weekofyear(c))
      case other => throw new IllegalArgumentException(
        s"stamp attribute '$other' — one of year month day hour minute " +
        "second ms us date dow doy week")
    }
  }

  /** The date-part family on the int64-ns lane (DIALECT.md's ns-long
    * contract; horology.h:4–12 keeps STAMP at ns where Spark's
    * TimestampType is µs): sub-day parts are PURE long arithmetic —
    * floor-division + modulus on the UTC grid, no TimestampType
    * round-trip — so the sub-µs bits a ns user keeps their axis as
    * longs FOR actually reach the answer ('ns'/'us'/'ms' are decided
    * entirely below the microsecond). Calendar parts (year/month/…)
    * discard sub-day precision by definition, so they ride
    * timestamp_micros(ts div 1000) with zero loss. Floor semantics
    * (not truncate-toward-zero) so pre-1970 axes stay correct. */
  private def nsAttr(t: T, key: String): T = {
    val c = t.col
    def L(x: Column) = T(x.cast("long"), LongType)
    // exact floor division: a - pmod(a, n) is divisible, so `div` (which
    // truncates) equals floor; never `/` (double mantissa corrupts ns)
    def fdiv(a: Column, n: Long): Column =
      call_function("div", a - pmod(a, lit(n)), lit(n))
    key match {
      case "hour"   => L(pmod(fdiv(c, 3600000000000L), lit(24L)))
      case "minute" => L(pmod(fdiv(c, 60000000000L), lit(60L)))
      case "second" => L(pmod(fdiv(c, 1000000000L), lit(60L)))
      case "millisecond" | "ms" => L(fdiv(pmod(c, lit(1000000000L)), 1000000L))
      case "microsecond" | "us" => L(fdiv(pmod(c, lit(1000000000L)), 1000L))
      case "nanosecond" | "ns"  => L(pmod(c, lit(1000000000L)))
      case "date" | "year" | "month" | "day" | "mday" | "dow" | "doy" | "week" =>
        stampAttr(T(timestamp_micros(fdiv(c, 1000L)), TimestampType), key)
      case other => throw new IllegalArgumentException(
        s"ns-stamp attribute '$other' — one of year month day hour minute " +
        "second ms us ns date dow doy week")
    }
  }

  private val dateReStr = """\d{4}\.\d{2}\.\d{2}(T.*)?"""
  private def isNumTok(t: String): Boolean = t.matches("""\d+\.\d+|\.\d+|\d+""")
  private def numT(v: String): T =
    if (v.matches("""\d+""")) T(lit(v.toLong), LongType) else T(lit(v.toDouble), DoubleType)

  private def buildArray(items: Seq[T]): T = {
    val dt = items.map(_.dt).reduce(widenArith)
    T(array(items.map(_.col.cast(dt)): _*), ArrayType(dt))
  }

  /** Brace disambiguation (Kerf is a JSON superset, so `{a:1}` must be a
    * dict while `{[x] x}` and `{a: 1; a*2}` are lambdas — the reference
    * re-marks lambda args the same way, parser.h:471–487): a brace block
    * is a DICT iff it opens with `key :` (no `[` arg list) and contains
    * no top-level `;` (let-bindings are statements; dict entries are
    * comma-separated). */
  private def looksLikeDict(toks: List[String]): Boolean = {
    if (toks.length < 4 || toks.head != "{" || toks(1) == "[" || toks(2) != ":")
      return false
    var depth = 0
    toks.foreach {
      case "{" | "[" | "(" => depth += 1
      case "}" | "]" | ")" => depth -= 1; if (depth == 0) return true
      case ";" if depth == 1 => return false
      case _ =>
    }
    true
  }

  private def parseDict(p: P, env: Env): T = {
    p.expect("{")
    val ks = scala.collection.mutable.ArrayBuffer[String]()
    val vs = scala.collection.mutable.ArrayBuffer[T]()
    var more = true
    while (more && !p.peekIs("}")) {
      val k = p.pop()
      ks += (if (k.startsWith("'")) unq(k)
             else if (k.startsWith("`")) k.tail else k)
      p.expect(":")
      vs += parseExpr(p, env)
      if (p.peekIs(",")) p.pop() else more = false
    }
    p.expect("}")
    val vdt = vs.map(_.dt).reduce(widenArith)
    T(map(ks.zip(vs).flatMap { case (k, v) => Seq(lit(k), v.col.cast(vdt)) }.toSeq: _*),
      MapType(StringType, vdt))
  }

  private def parsePrimary(p: P, env: Env): T = {
    if (p.peekIs("{") && looksLikeDict(p.toks)) return parseDict(p, env)
    // function-first positions: lambda, or a parenthesized verb `(+)`
    if (p.peekIs("{") ||
        (p.peek.contains("(") && p.peek2.exists(verbSyms) && p.peek3.contains(")")))
      return applyFunSite(parseFun(p, env), p, env)
    val t = p.pop()
    t match {
      case "(" => val e = parseExpr(p, env); p.expect(")"); e
      case "-" => negT(parsePrimary(p, env))
      case "[" => // JSON-style list literal
        val items = scala.collection.mutable.ArrayBuffer[T]()
        if (!p.peekIs("]")) {
          items += parseExpr(p, env)
          while (p.peekIs(",")) { p.pop(); items += parseExpr(p, env) }
        }
        p.expect("]")
        require(items.nonEmpty, "empty list literal needs a type; use til 0")
        buildArray(items.toSeq)
      case v if v.startsWith("`") => T(lit(v.tail), StringType)
      case v if v.matches(dateReStr) =>
        // an unquoted stamp literal lives on the µs lane (TimestampType)
        // — sub-µs digits would truncate SILENTLY, so they are a loud
        // error naming the exact ns-lane spelling instead
        val subUs = v.indexOf('T') match {
          case -1 => false
          case i =>
            val t = v.substring(i + 1); val d = t.indexOf('.')
            d >= 0 && t.substring(d + 1).takeWhile(_.isDigit).length > 6
        }
        if (subUs) throw new IllegalArgumentException(
          s"stamp literal $v carries sub-microsecond digits — the stamp " +
          "lane is µs (TimestampType); take it as an exact ns long: " +
          s"nanos('$v')")
        T(Temporal.stampLit(v), TimestampType)
      case v if v.matches(spanReStr) => spanT(Temporal.Span.parse(v))
      case v if isNumTok(v) => // juxtaposed numbers form a vector literal
        if (p.peek.exists(isNumTok)) {
          val items = scala.collection.mutable.ArrayBuffer[T](numT(v))
          while (p.peek.exists(isNumTok)) items += numT(p.pop())
          buildArray(items.toSeq)
        } else numT(v)
      case v if v.startsWith("'") => T(lit(unq(v)), StringType)
      // reserved literal names (lexer.h:101-102 RESERVED_NUMBER_NAMES /
      // RESERVED_NAME_NAMES): reserved GLOBALLY in the reference, so the
      // literal wins over any same-named column — case-insensitive like
      // reserved_lookup
      case v if v.equalsIgnoreCase("true")  => T(lit(true), BooleanType)
      case v if v.equalsIgnoreCase("false") => T(lit(false), BooleanType)
      case v if v.equalsIgnoreCase("inf") || v.equalsIgnoreCase("infinity") =>
        T(lit(Double.PositiveInfinity), DoubleType)
      case v if v.equalsIgnoreCase("nan") => T(lit(Double.NaN), DoubleType)
      case v if v.equalsIgnoreCase("null") || v.equalsIgnoreCase("nil") =>
        T(lit(null), NullType)
      // `root` completes RESERVED_NAME_NAMES {nil,null,root,true,false}
      // (lexer.h:102): the reference's Kerf-Tree root object. Reserved
      // here too (a column named root does NOT resolve — same global
      // shadowing as the other reserved names), but the workspace is
      // directory-backed (Folio.workspaceSave/load), so there is no
      // in-language tree object to return — explicit error, not a column.
      case v if v.equalsIgnoreCase("root") =>
        throw new IllegalArgumentException(
          "'root' is reserved (the reference's Kerf-Tree root, lexer.h:102); " +
          "workspaces are directory-backed here — use workspace save/load")
      case fn if adverbNames(fn.toLowerCase) && p.peekIs("(") => // call-form adverb
        p.pop()
        val f = parseFun(p, env)
        val rest = scala.collection.mutable.ArrayBuffer[T]()
        while (p.peekIs(",")) { p.pop(); rest += parseExpr(p, env) }
        p.expect(")")
        applyAdverb(fn.toLowerCase, f, rest.toSeq)
      case fn if windowVerbs.contains(fn.toLowerCase) && p.peekIs("(") &&
          !env.funcs.contains(fn) =>
        // table verbs run down the rows: running aggregates over an
        // UNBOUNDED PRECEDING..CURRENT ROW frame (scanRows), prev/deltas
        // via lag (eachPriorRows; null prior for the first row, matching
        // the oracled q13 delta semantics). A user `def` of the same name
        // wins (same shadowing rule as the bare-column/list-verb case)
        val w = env.wspec.getOrElse(throw new IllegalArgumentException(
          s"window verb '$fn' needs an ordered select " +
          "(select … from t [group keys] order cols)"))
        import org.apache.spark.sql.expressions.Window
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fnl = fn.toLowerCase
        p.expect("(")
        // moving verbs take a literal width first: msums(5, x). Literal
        // only — a per-row frame width has no meaning for a window frame.
        val mWidth = if (movingVerbs(fnl)) {
          val n = p.pop()
          require(n.matches("""\d+""") && n.toLong >= 1,
            s"$fnl needs a positive integer width literal first: $fnl(5, x) " +
            s"(got '$n')")
          p.expect(",")
          n.toLong
        } else if (fnl == "ntiles") {
          // ntiles(n): the q xrank face — n equal buckets down the
          // (group, order) axes; bucket count is a literal, and like
          // ranks there is no column argument (the axes decide)
          val n = p.pop()
          require(n.matches("""\d+""") && n.toLong >= 2,
            s"ntiles needs a literal bucket count >= 2: ntiles(10) (got '$n')")
          n.toLong
        } else 0L
        // emas(alpha, x): table-ordered EMA — alpha is a literal in
        // (0,1] FIRST (it parameterizes the recurrence, it isn't data)
        val emaAlpha = if (fnl == "emas") {
          val aTok = p.pop()
          require(aTok.matches("""\d+\.\d+|\.\d+|\d+"""),
            s"emas needs a literal alpha in (0,1] first: emas(0.25, x) (got '$aTok')")
          p.expect(",")
          aTok.toDouble
        } else 0.0
        // ranks() takes no real argument — rank is a property of the
        // (group, order) axes. Accept the empty call, or the first order
        // key spelled out; anything else would read as "rank by this
        // expression" and silently return a rank by the order clause,
        // so reject it loudly.
        val innerToksBefore = p.toks
        val inner =
          if ((fnl == "ranks" || fnl == "ntiles") && p.peekIs(")")) T(lit(1L), LongType)
          else parseExpr(p, env)
        if (fnl == "ranks" && !(innerToksBefore eq p.toks)) {
          val used = innerToksBefore
            .take(innerToksBefore.length - p.toks.length)
            .map(_.toLowerCase)
          require(env.firstOrderKey.contains(used),
            s"ranks(${used.mkString(" ")}) would NOT rank by that expression — " +
            "rank runs on the order clause. Use ranks() or pass the first " +
            s"order key${env.firstOrderKey.fold("")(k => s" (${k.mkString(" ")})")}")
        }
        // wavgs is the one two-EXPRESSION window verb: wavgs(w, x) =
        // running Σ(w·x)/Σw down the ordered rows (cumulative VWAP)
        val second = if (fnl == "wavgs") {
          p.expect(","); Some(parseExpr(p, env))
        } else None
        p.expect(")")
        val sumDt = inner.dt match {
          case DoubleType | FloatType => DoubleType
          case d: DecimalType => d
          case _ => LongType
        }
        // booleans sum as 0/1 (the `sums(chg)` run-id idiom over
        // differs flags); Spark's sum rejects raw booleans
        val summable =
          if (inner.dt == BooleanType) inner.col.cast("long") else inner.col
        // bounded trailing frame for the moving family: N rows = N-1
        // preceding + current
        lazy val mFrame = w.rowsBetween(-(mWidth - 1), Window.currentRow)
        fnl match {
          case "sums"   => T(sum(summable).over(frame), sumDt)
          case "avgs"   => T(avg(inner.col).over(frame), DoubleType)
          case "mins"   => T(min(inner.col).over(frame), inner.dt)
          case "maxs"   => T(max(inner.col).over(frame), inner.dt)
          case "counts" => T(count(inner.col).over(frame), LongType)
          case "prev"   => T(lag(inner.col, 1).over(w), inner.dt)
          case "nexts"  => T(lead(inner.col, 1).over(w), inner.dt)
          case "ratios" =>
            // deltas' multiplicative twin (tick returns): x / prev x,
            // null on the first row AND on a zero prior (an ANSI
            // division would throw; a tick series with a zero print
            // has no defined return there)
            val prior = lag(inner.col, 1).over(w)
            T(when(prior === 0 || prior.isNull, lit(null).cast(DoubleType))
              .otherwise(inner.col.cast(DoubleType) / prior.cast(DoubleType)),
              DoubleType)
          case "ntiles" => T(ntile(mWidth.toInt).over(w).cast("long"), LongType)
          case "mcounts" => T(count(inner.col).over(mFrame), LongType)
          case "msums"  => T(sum(summable).over(mFrame), sumDt)
          case "mavgs"  => T(avg(inner.col).over(mFrame), DoubleType)
          case "mmins"  => T(min(inner.col).over(mFrame), inner.dt)
          case "mmaxs"  => T(max(inner.col).over(mFrame), inner.dt)
          case "mvars" | "mdevs" =>
            // rolling population variance/deviation — the same exact
            // DECIMAL(18,6)-quantized sum discipline as the var/dev
            // aggregates, per bounded frame; ragged leading frames use
            // their own (smaller) count, the q/kdb convention
            val dq = inner.col.cast(DecimalType(18, 6))
            val cnt = count(inner.col).over(mFrame).cast(DoubleType)
            val sx = sum(dq).over(mFrame).cast(DoubleType)
            val sxx = sum(dq * dq).over(mFrame).cast(DoubleType)
            // clamp at 0: on a 1-row frame the two sides of the
            // difference take different fp routes (decimal-exact x² vs
            // double x·x) and can cancel to −ε — which sqrt would turn
            // into NaN here and an error in stricter engines. An
            // all-null frame (cnt 0) is null, not an ANSI divide error
            val v = when(cnt === 0.0, lit(null).cast(DoubleType))
              .otherwise(greatest(
                (sxx / cnt) - (sx / cnt) * (sx / cnt), lit(0.0)))
            T(if (fnl == "mvars") v else sqrt(v), DoubleType)
          case "emas"   =>
            // incremental O(n) per partition: the running frame feeds
            // each row through the aggregator's reduce exactly once
            T(graft.functions.EmaWindowAgg.emas(emaAlpha)(inner.col).over(frame),
              DoubleType)
          case "wavgs"  =>
            // the running form of the wavg aggregate, same exact-decimal
            // discipline: quote-weighted price so far, per ordered row;
            // zero weight-mass so far is null, not an ANSI divide error.
            // PAIRWISE masking like the batch wavg: a weight whose value
            // vanished must not dilute the running Σw (and vice versa) —
            // numerator and denominator must cover the same row set
            val bothNN = inner.col.isNotNull && second.get.col.isNotNull
            val dw = when(bothNN, inner.col).cast(DecimalType(18, 6))
            val dx = when(bothNN, second.get.col).cast(DecimalType(18, 6))
            val den = sum(dw).over(frame).cast(DoubleType)
            T(when(den === 0.0, lit(null).cast(DoubleType))
              .otherwise(sum(dw * dx).over(frame).cast(DoubleType) / den),
              DoubleType)
          case "fills"  =>
            // forward-fill: carry the last non-null down the ordered rows
            // (the tick-DB quote-carry; last() IGNORE NULLS over the
            // running frame — same substrate as AsOf's staleness carry)
            T(last(inner.col, ignoreNulls = true).over(frame), inner.dt)
          case "bfills" =>
            // backward-fill: the NEXT non-null up the ordered rows (the
            // mirror carry — first() IGNORE NULLS over the trailing-
            // to-end frame; null after the group's last non-null)
            T(first(inner.col, ignoreNulls = true).over(
              w.rowsBetween(Window.currentRow, Window.unboundedFollowing)),
              inner.dt)
          case "ranks"  =>
            // 1-based row rank down the ordered rows (grade-then-index,
            // grade.cc's sort-rank face)
            T(row_number().over(w).cast("long"), LongType)
          case "differs" =>
            // q's differ: true where x changes from the previous row
            // down the (group, order) axes; the first row opens a run
            // by definition. Null-safe (<=>): null→null is NOT a
            // change, null↔value is — so `sums` over the flags is the
            // run-id and `where differs` keeps one row per run.
            T((row_number().over(w) === 1) ||
              !(inner.col <=> lag(inner.col, 1).over(w)), BooleanType)
          case "deltas" =>
            // the subtraction's result type differs from the input on
            // temporal axes: ts - ts and date - date yield ANSI intervals
            // in Spark, so declare what the engine actually produces
            val deltaDt = inner.dt match {
              case TimestampType | TimestampNTZType => DayTimeIntervalType()
              case DateType => DayTimeIntervalType(DayTimeIntervalType.DAY)
              case other => other
            }
            T(inner.col - lag(inner.col, 1).over(w), deltaDt)
        }
      case fn if fn.toLowerCase == "countd" && p.peekIs("(") =>
        // exact distinct count — the SQL COUNT(DISTINCT c) as a Kerf-
        // style verb (set cardinality, §2.7); two-phase partial agg
        p.expect("(")
        val inner = parseExpr(p, env)
        p.expect(")")
        T(count_distinct(inner.col), LongType)
      case fn if fn.toLowerCase == "collect" && p.peekIs("(") =>
        // q's xgroup face: group rows into per-key VECTORS (the Kerf
        // table-of-vectors model; reference substrate slop.h grouped
        // lists). `collect(x)` gathers x value-sorted; `collect(x,
        // axis)` gathers x ordered by axis (ties broken by x) — the
        // tick-series shape `collect(price, ts)`. Both orders are
        // TOTAL, so the result is deterministic across any
        // partitioning/shuffle schedule (collect_list alone is not).
        // `ungroup` is the inverse.
        p.expect("(")
        val inner = parseExpr(p, env)
        val axis = if (p.peekIs(",")) { p.pop(); Some(parseExpr(p, env)) } else None
        p.expect(")")
        // BOUNDED-GROUP CONTRACT, stated loudly (the EMA-guard lesson:
        // an explicit raise beats a silent executor OOM): a per-key
        // vector materializes in ONE aggregation buffer, so collect is
        // for keys whose history fits an executor — unbounded keys
        // belong to the windowed verbs or streaming state
        val collectMax = 4194304
        def guarded(c: Column) =
          when(size(c) <= lit(collectMax), c)
            .otherwise(raise_error(
              lit(s"collect: group exceeds $collectMax elements — a per-key " +
                "vector lives in one aggregation buffer; use windowed verbs " +
                "or streaming state for unbounded keys")))
        axis match {
          case None => T(guarded(array_sort(collect_list(inner.col))), ArrayType(inner.dt))
          case Some(ax) =>
            T(guarded(transform(
                array_sort(collect_list(struct(ax.col.as("__a"), inner.col.as("__x")))),
                s => s.getField("__x"))),
              ArrayType(inner.dt))
        }
      case fn if statAggFns(fn.toLowerCase) && p.peekIs("(") &&
          !env.funcs.contains(fn) => // user defs shadow (the windowVerbs rule)
        // the q-family statistical aggregates (Kerf1 heritage, like
        // pctl/ranks): wavg(w, x) — the VWAP shape Σ(w·x)/Σw — and the
        // POPULATION moments var/dev/cov/cor. INPUTS are quantized to
        // DECIMAL(18,6) and every product/sum happens IN DECIMAL
        // (exact, order-free across any partitioning — the q140
        // integer-numerator discipline); only the rim divisions/sqrt
        // run in doubles. Critically, products are NOT double-squared
        // then converted: a double of magnitude 1e10 has ulp coarser
        // than the 1e-6 decimal grid, and engines legitimately differ
        // in how they pick the grid point — quantize-then-multiply is
        // exact and engine-agnostic. The scale-6 input quantization is
        // the determinism contract (values with >6 fractional digits
        // round at ingestion); nulls follow the sums.
        p.expect("(")
        val fnl = fn.toLowerCase
        val a = parseExpr(p, env)
        val b = if (Set("wavg", "cov", "cor")(fnl)) {
          p.expect(","); Some(parseExpr(p, env))
        } else None
        p.expect(")")
        def dq(c: Column) = c.cast(DecimalType(18, 6))
        def dsum(c: Column) = sum(c).cast(DoubleType)
        // zero denominators return NULL (the SQL corr/covar convention;
        // under ANSI a bare division would THROW on an all-equal or
        // zero-weight group — a fuzz-found hazard, not a theory)
        def safeDiv(num: Column, den: Column): Column =
          when(den === 0.0, lit(null).cast(DoubleType)).otherwise(num / den)
        // PAIRWISE DELETION for the two-argument moments (SQL's
        // corr/covar_pop convention): each input is nulled where its
        // PARTNER is null, so every sum and the count cover the same
        // row set. Without this, mismatched null patterns make the
        // moments inconsistent (cor can leave [-1,1]; var of the
        // second column would be normalized by the first's count).
        lazy val bothNN = a.col.isNotNull && b.get.col.isNotNull
        def paired(c: Column) = when(bothNN, c)
        // clamped at 0: a 1-row group's difference can cancel to −ε
        // (decimal-exact x² vs double x·x routes) and sqrt would NaN;
        // n = 0 (all-null input) is null, not a division error
        def varOf(x: Column, n: Column) = {
          val sx = dsum(dq(x)); val sxx = dsum(dq(x) * dq(x))
          when(n === 0.0, lit(null).cast(DoubleType))
            .otherwise(greatest((sxx / n) - (sx / n) * (sx / n), lit(0.0)))
        }
        def covOf(x: Column, y: Column, n: Column) =
          when(n === 0.0, lit(null).cast(DoubleType))
            .otherwise((dsum(dq(x) * dq(y)) / n) -
              (dsum(dq(x)) / n) * (dsum(dq(y)) / n))
        def nOf(c: Column) = count(c).cast(DoubleType)
        val out = fnl match {
          // wavg masks the weight where the value is null (and vice
          // versa): a weight whose value vanished must not dilute Σw
          case "wavg" => safeDiv(dsum(dq(paired(a.col)) * dq(paired(b.get.col))),
            dsum(dq(paired(a.col))))
          case "var"  => varOf(a.col, nOf(a.col))
          case "dev"  => sqrt(varOf(a.col, nOf(a.col)))
          case "cov"  => covOf(paired(a.col), paired(b.get.col), nOf(paired(a.col)))
          case "cor"  =>
            val n = nOf(paired(a.col))
            safeDiv(covOf(paired(a.col), paired(b.get.col), n),
              sqrt(varOf(paired(a.col), n)) * sqrt(varOf(paired(b.get.col), n)))
        }
        T(out, DoubleType)
      case fn if fn.toLowerCase == "med" && p.peekIs("(") &&
          !env.funcs.contains(fn) =>
        // q's med — the 50th percentile with pctl's exact-interpolation
        // semantics (med(x) ≡ pctl(x, 0.5); DuckDB: quantile_cont 0.5)
        p.expect("(")
        val inner = parseExpr(p, env)
        p.expect(")")
        T(call_function("percentile", inner.col, lit(0.5)), DoubleType)
      case fn if fn.toLowerCase == "pctl" && p.peekIs("(") &&
          !env.funcs.contains(fn) =>
        // exact interpolated percentile — `pctl(l_quantity, 0.5)`; the
        // engine-portable exact aggregate (DuckDB: quantile_cont), like
        // the oracled q42 surface
        p.expect("(")
        val inner = parseExpr(p, env)
        p.expect(",")
        val q = parseExpr(p, env)
        p.expect(")")
        T(call_function("percentile", inner.col, q.col), DoubleType)
      case fn if aggFns.contains(fn.toLowerCase) && p.peekIs("(") &&
          !env.funcs.contains(fn) =>
        p.expect("(")
        val inner = if (p.peekIs("*")) { p.pop(); T(lit(1), IntegerType) }
                    else parseExpr(p, env)
        p.expect(")")
        inner.dt match {
          case MapType(_, _, _) if fn.toLowerCase == "count" =>
            T(size(inner.col).cast("long"), LongType) // map.count() (test.cc:418)
          case ArrayType(e, _) =>
            // rank polymorphism, Kerf-style: an aggregate applied to a
            // VECTOR reduces the vector in-row (sum 1 2 3 = 6) — the SQL
            // row-aggregate meaning applies only to scalar operands
            val sumDt = e match {
              case DoubleType | FloatType => DoubleType
              case _ => LongType
            }
            def arrSum = aggregate(inner.col, lit(0).cast(sumDt),
              (acc, v) => acc + v.cast(sumDt))
            fn.toLowerCase match {
              case "sum" => T(arrSum, sumDt)
              // mean of an EMPTY list is missing (q's 0n, SQL's null) —
              // the old greatest(size,1) guard substituted 0.0, which a
              // consumer cannot tell apart from a true zero mean
              case "avg" => T(when(size(inner.col) === 0,
                  lit(null).cast("double"))
                .otherwise(arrSum.cast("double") /
                  size(inner.col).cast("double")), DoubleType)
              case "min" => T(array_min(inner.col), e)
              case "max" => T(array_max(inner.col), e)
              case "count" => T(size(inner.col).cast("long"), LongType)
            }
          case _ =>
            fn.toLowerCase match {
              case "sum" => T(sum(inner.col), inner.dt match {
                case DoubleType | FloatType => DoubleType
                case d: DecimalType => d
                case _ => LongType
              })
              case "avg" => T(avg(inner.col), DoubleType)
              case "min" => T(min(inner.col), inner.dt)
              case "max" => T(max(inner.col), inner.dt)
              case "count" => T(count(inner.col), LongType)
            }
        }
      case "til" | "range" => // verbs.cc:86–91; prefix (`til 10`) or call
        val n = if (p.peekIs("(")) { p.pop(); val e = parseExpr(p, env); p.expect(")"); e }
                else parsePrimary(p, env)
        T(Verbs.rangeArr(n.col), ArrayType(LongType))
      case fn if fn.toLowerCase == "fromjson" && p.peekIs("(") =>
        // from_json-to-struct lowering — the ATLAS/nested-document entry
        // point (enums.h:262): parse a JSON string column into a TYPED
        // struct against an EXPLICIT DDL schema, then field paths/group/
        // agg compose: `fromjson(props, 'k int').k`. Malformed rows
        // yield null fields (Spark PERMISSIVE mode), the doc-store
        // lookup-miss convention, not a job abort. The single-arg form
        // infers the schema from a bounded sample instead (and flips to
        // FAILFAST — see below); the full-inference-pass-at-100TB
        // objection is answered by the 1024-row cap.
        p.pop()
        val inner = parseExpr(p, env)
        require(inner.dt == StringType,
          s"fromjson input must be a string column, got ${inner.dt}")
        if (p.peekIs(")")) {
          // SINGLE-ARG INFERENCE face — doc-store ergonomics: the schema
          // comes from a BOUNDED sample (1024 non-null rows — one cheap
          // limit-pushed job, never a full inference pass at 100 TB),
          // and the full scan then parses FAILFAST: a row whose types
          // drift from the sampled schema fails LOUDLY instead of
          // silently nulling (fields absent from the sample are dropped
          // — the doc-store projection convention; pin them with the
          // explicit-DDL face when they matter)
          p.pop()
          val spark = env.session.getOrElse(SparkSession.active)
          require(env.tnames.size == 1,
            "fromjson(col) schema inference samples the source table — " +
            s"needs exactly one (have ${env.tnames.size}); " +
            "give an explicit DDL schema instead")
          import spark.implicits._
          val sample = spark.table(env.tnames.head)
            .select(inner.col.as("__j")).filter(col("__j").isNotNull)
            .limit(1024).as[String]
          val fields = spark.read.json(sample).schema.fields
            .filterNot(_.name == "_corrupt_record")
          require(fields.nonEmpty,
            "fromjson(col): nothing inferable from the sample (all rows " +
            "null or malformed) — give an explicit DDL schema")
          val st = StructType(fields)
          T(from_json(inner.col, st, Map("mode" -> "FAILFAST")), st)
        } else {
          p.expect(",")
          val ddlTok = p.pop()
          require(ddlTok.startsWith("'") && ddlTok.endsWith("'") && ddlTok.length > 2,
            s"fromjson needs a quoted DDL schema ('k int, tag string'), got $ddlTok")
          p.expect(")")
          val st = StructType.fromDDL(unq(ddlTok))
          T(from_json(inner.col, st), st)
        }
      case fn if fn.toLowerCase == "ema" && p.peekIs("(") =>
        // the q-family ema scan, array form (Adverbs.ema): alpha must be
        // a literal — it parameterizes the fold, it isn't data
        p.pop()
        val inner = parseExpr(p, env)
        p.expect(",")
        val aTok = p.pop()
        require(aTok.matches("""\d+\.\d+|\.\d+|\d+"""),
          s"ema needs a literal alpha in (0,1], got '$aTok'")
        p.expect(")")
        require(inner.dt.isInstanceOf[ArrayType],
          s"ema runs over a numeric list, got ${inner.dt} (row series: " +
          "group to a sorted list first, or stream via emaByKey)")
        T(graft.ops.Adverbs.ema(inner.col, aTok.toDouble), ArrayType(DoubleType))
      case fn if fn.toLowerCase == "tojson" && p.peekIs("(") =>
        // the inverse lowering: serialize a struct/map/array back to a
        // JSON string (doc-store egress; round-trips with fromjson)
        p.pop()
        val inner = parseExpr(p, env)
        p.expect(")")
        inner.dt match {
          case _: StructType | _: MapType | _: ArrayType =>
            T(to_json(inner.col), StringType)
          case other => throw new IllegalArgumentException(
            s"tojson needs a struct/map/array, got $other")
        }
      case fn if listVerbs.contains(fn.toLowerCase) && p.peekIs("(") =>
        // string/list verbs, call form only (so a column named `length`
        // still resolves bare)
        p.pop()
        val args = scala.collection.mutable.ArrayBuffer[T](parseExpr(p, env))
        while (p.peekIs(",")) { p.pop(); args += parseExpr(p, env) }
        p.expect(")")
        applyListVerb(fn.toLowerCase, args.toSeq)
      case f if env.funcs.contains(f) => // named function: call or adverb operand
        applyFunSite(env.funcs(f), p, env)
      case ident => resolveIdent(ident, env)
    }
  }

  /** The reference's list-verb family (slop.h:1140–1189: join/enlist/
    * last/count/find [+ length/size aliases]; reverse via iteration),
    * call form. `find` is Kerf findI: 0-based index of the needle, or the
    * list count when absent (slop.cc:827–847 returns the exhausted
    * cursor). `join` is concatenation (cow_join), pervading a scalar
    * operand to a one-element list first. */
  private def applyListVerb(fn: String, args: Seq[T]): T = (fn, args) match {
    case ("length", Seq(a)) => a.dt match { // slop.h count: chars OR items
      case ArrayType(_, _) => T(size(a.col).cast("long"), LongType)
      case MapType(_, _, _) => T(size(a.col).cast("long"), LongType)
      case _ => T(length(a.col).cast("long"), LongType)
    }
    case ("upper", Seq(a))  => T(upper(a.col), StringType)
    case ("lower", Seq(a))  => T(lower(a.col), StringType)
    // ── String family (SURVEY §2.8 string row: the reference renders
    // strings, presented.cc:62–246, and the survey adopts the standard
    // concat/substring/like/regexp_* surface; q/k heritage: ss/ssr/vs).
    // All lower to codegen'd built-ins — no UDFs.
    // substr is 0-BASED (the dialect's operator[] convention, not SQL's
    // 1-based substring): substr(s, i) to the end, substr(s, i, n) for n
    // chars.
    case ("substr", Seq(a, i)) =>
      T(a.col.substr(i.col.cast("int") + 1, length(a.col)), StringType)
    case ("substr", Seq(a, i, n)) =>
      T(a.col.substr(i.col.cast("int") + 1, n.col.cast("int")), StringType)
    // replace: LITERAL substring replace (every occurrence); ssr is the
    // regex form (q's ssr — "string search replace").
    case ("replace", Seq(a, f, r)) =>
      T(call_function("replace", a.col, f.col, r.col), StringType)
    case ("ssr", Seq(a, re, r)) =>
      T(regexp_replace(a.col, re.col, r.col), StringType)
    // rlike: the regexp predicate (Java regex, unanchored — anchor with
    // ^$ for whole-string match); `like` is the infix wildcard form.
    case ("rlike", Seq(a, re)) =>
      T(call_function("regexp_like", a.col, re.col), BooleanType)
    // split: LITERAL separator (quoted into the regex engine via \Q…\E,
    // so '.' or '|' separators split literally — q's vs).
    case ("split", Seq(a, sep)) =>
      T(call_function("split", a.col,
          concat(lit("\\Q"), sep.col, lit("\\E"))), ArrayType(StringType))
    case ("trim", Seq(a))  => T(trim(a.col), StringType)
    case ("ltrim", Seq(a)) => T(ltrim(a.col), StringType)
    case ("rtrim", Seq(a)) => T(rtrim(a.col), StringType)
    case ("lpad", Seq(a, n, pd)) =>
      T(call_function("lpad", a.col, n.col.cast("int"), pd.col), StringType)
    case ("rpad", Seq(a, n, pd)) =>
      T(call_function("rpad", a.col, n.col.cast("int"), pd.col), StringType)
    // ── Casts/constructors (Kerf's INT is 64-bit; the reference's
    // to_string renderers, presented.cc:62–246). Numeric forms pervade
    // through lists like the math verbs. double→long TRUNCATES toward
    // zero (Spark/ANSI; overflow throws loudly). STRING parses go
    // through try_cast — malformed input is null, the fromjson
    // malformed-row posture, never a mid-job crash.
    case ("long", Seq(a)) => a.dt match {
      case StringType => T(a.col.try_cast("long"), LongType)
      case TimestampType | TimestampNTZType => // a stamp's long face IS its ns epoch
        T(unix_micros(a.col.cast(TimestampType)) * lit(1000L), LongType)
      case _ => T(Verbs.pervadeUnary(a.dt)(a.col)(_.cast("long")),
        mapLeafType(a.dt, LongType))
    }
    case ("double", Seq(a)) => a.dt match {
      case StringType => T(a.col.try_cast("double"), DoubleType)
      case _ => T(Verbs.pervadeUnary(a.dt)(a.col)(_.cast("double")),
        mapLeafType(a.dt, DoubleType))
    }
    // bigint(x): the DECIMAL(38,0)-backed face of the reference's
    // walled-off A_BIGINT_UNIT (presented.h:327–331; slab.h:47–49
    // "Don't actually implement any BigInt stuff yet"). 38 exact digits
    // — sums/products beyond int64 and double's 53-bit mantissa stay
    // EXACT and match DuckDB's DECIMAL(38,0) bit-for-bit. Integral and
    // string sources only: a double→bigint cast would smuggle binary
    // rounding into an exact-arithmetic family, so it is a loud error
    // (go through long() or string() and own the rounding).
    case ("bigint", Seq(a)) => a.dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        T(Verbs.pervadeUnary(a.dt)(a.col)(_.cast(DecimalType(38, 0))),
          mapLeafType(a.dt, DecimalType(38, 0)))
      case StringType => T(a.col.try_cast(DecimalType(38, 0).sql), DecimalType(38, 0))
      case d: DecimalType if d.scale == 0 =>
        T(a.col.cast(DecimalType(38, 0)), DecimalType(38, 0))
      case other => throw new IllegalArgumentException(
        s"bigint: need an integral, digit-string, or scale-0 decimal, got " +
        s"$other (doubles are inexact — convert explicitly first)")
    }
    case ("string", Seq(a)) => a.dt match {
      case ArrayType(_, _) | MapType(_, _, _) => throw new IllegalArgumentException(
        "string: renders scalars (for lists/dicts use tojson)")
      case _ => T(a.col.cast("string"), StringType)
    }
    // stamp(ns_long): the ns epoch's TimestampType face (µs — Spark's
    // resolution; the dual-column ts/ts_ns convention). stamp(string)
    // parses ISO forms, null on malformed.
    case ("stamp", Seq(a)) => a.dt match {
      case LongType | IntegerType =>
        // FLOOR division to the µs grid (pmod is nonneg): `div` truncates
        // toward zero, which would round PRE-EPOCH ns toward the epoch —
        // the opposite direction from RemoteEval's Math.floorDiv bridge
        T(timestamp_micros(call_function("div",
            a.col - pmod(a.col, lit(1000L)), lit(1000L))), TimestampType)
      case StringType => T(a.col.try_cast("timestamp"), TimestampType)
      case TimestampType | TimestampNTZType => a
      case other => throw new IllegalArgumentException(
        s"stamp: need an ns long or a string, got $other")
    }
    // nanos(stamp): the inverse — a stamp's exact ns epoch (µs × 1000).
    // nanos(string): the NS-EXACT temporal literal lane (DIALECT.md) —
    // a literal parses driver-side with up to 9 fraction digits
    // (Temporal.stampLitNs, pure integer math), closing the gap where
    // an unquoted sub-µs stamp literal cannot survive the µs
    // TimestampType lane; a string COLUMN (ns-precision ingest) parses
    // the ISO form with the fraction split off as integer digits, so
    // sub-µs bits never touch a timestamp.
    case ("nanos", Seq(a)) => a.dt match {
      case TimestampType | TimestampNTZType =>
        T(unix_micros(a.col.cast(TimestampType)) * lit(1000L), LongType)
      case LongType => a
      case StringType => litString(a) match {
        case Some(s) => T(lit(graft.functions.Temporal.stampLitNs(s)), LongType)
        case None =>
          // 'yyyy-MM-dd HH:mm:ss[.fffffffff]' columns: seconds through
          // the µs parser on fraction-stripped text (exact — no sub-
          // second content left), fraction right-padded to 9 ns digits
          // ("" pads to all-zero → 0). try_to_timestamp: malformed rows
          // are null like the stamp(string) try_cast posture, never a
          // mid-job ANSI throw. A fraction LONGER than 9 digits nulls
          // too (same posture): this lane's whole contract is exactness,
          // so sub-ns input must not silently truncate to a confident
          // ns value — the literal face rejects the same string loudly
          val stripped = regexp_replace(a.col,
            lit("(?<=\\d{2}:\\d{2}:\\d{2})\\.\\d+"), lit(""))
          val frac = regexp_extract(a.col, ":\\d{2}\\.(\\d+)", 1)
          T(when(length(frac) > 9, lit(null).cast("long"))
              .otherwise(unix_micros(try_to_timestamp(stripped)) * lit(1000L) +
                rpad(frac, 9, "0").cast("long")), LongType)
      }
      case other => throw new IllegalArgumentException(
        s"nanos: need a stamp, an ns long, or a stamp string, got $other")
    }
    case ("reverse", Seq(a)) => T(reverse(a.col), a.dt) // strings AND lists
    case ("first", Seq(a)) => a.dt match {
      case ArrayType(e, _) => T(element_at(a.col, 1), e)
      case StringType      => T(substring(a.col, 1, 1), StringType)
      case other => throw new IllegalArgumentException(
        s"first: need a list, got $other (for the per-group ordered " +
        "aggregate, declare the axis: first(c, ts) — a distributed table " +
        "has no silent row order)")
    }
    case ("last", Seq(a)) => a.dt match { // slop.h:1181
      case ArrayType(e, _) => T(element_at(a.col, -1), e)
      case StringType      => T(substring(a.col, -1, 1), StringType)
      case other => throw new IllegalArgumentException(
        s"last: need a list, got $other (for the per-group ordered " +
        "aggregate, declare the axis: last(c, ts) — a distributed table " +
        "has no silent row order)")
    }
    // first/last WITH A DECLARED AXIS: the per-group ordered aggregates
    // of a tick DB (`select last(price, ts) from t group sym` = the
    // closing tick). Kerf's table-order first/last made honest for a
    // distributed table by naming the order column; lowers to
    // min_by/max_by (one-pass, partial+final like any aggregate).
    case ("first", Seq(c, axis)) => T(min_by(c.col, axis.col), c.dt)
    case ("last", Seq(c, axis))  => T(max_by(c.col, axis.col), c.dt)
    case ("enlist", Seq(a)) => T(array(a.col), ArrayType(a.dt)) // slop.h:1173
    case ("join", Seq(a, b)) => (a.dt, b.dt) match { // slop.h:1146
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        val e = widenArith(ea, eb)
        T(concat(a.col.cast(ArrayType(e)), b.col.cast(ArrayType(e))), ArrayType(e))
      case (StringType, StringType) => T(concat(a.col, b.col), StringType)
      case (ArrayType(_, _), _) => applyListVerb("join", Seq(a, applyListVerb("enlist", Seq(b))))
      case (_, ArrayType(_, _)) => applyListVerb("join", Seq(applyListVerb("enlist", Seq(a)), b))
      case _ => // scalar join scalar makes a 2-list: 1 join 2 = [1,2] (test.cc:308)
        applyListVerb("join", Seq(applyListVerb("enlist", Seq(a)), b))
    }
    case ("find", Seq(h, n)) => h.dt match {
      case ArrayType(_, _) =>
        val pos = array_position(h.col, n.col)
        T(when(pos === 0, size(h.col).cast("long")).otherwise(pos - 1), LongType)
      // strings are char lists: find('abcd', 'cd') = 2 — the 0-based
      // first index of the substring, or the string's length when
      // absent (the same exhausted-cursor convention as the list form,
      // slop.cc:827–847; q's ss first hit)
      case StringType =>
        val pos = instr(h.col, n.col)
        T(when(pos === 0, length(h.col).cast("long"))
            .otherwise((pos - 1).cast("long")), LongType)
      case other => throw new IllegalArgumentException(s"find: need a list, got $other")
    }
    case ("amend", Seq(d, k, v)) => d.dt match { // amend_one (test.cc:413):
      // dict: insert-or-update, last write wins (mapKeyDedupPolicy=LAST_WIN
      // in Engine); list: functional update at a 0-based index. The value
      // type WIDENS like the reference's promote-on-append — never a
      // silent down-cast of the new value.
      case MapType(kt, vt, _) =>
        val wide = widenArith(vt, v.dt)
        T(map_concat(d.col.cast(MapType(kt, wide)), map(k.col.cast(kt), v.col.cast(wide))),
          MapType(kt, wide))
      case ArrayType(e, _) =>
        val wide = widenArith(e, v.dt)
        T(transform(d.col.cast(ArrayType(wide)),
            (x, i) => when(i === k.col.cast("int"), v.col.cast(wide)).otherwise(x)),
          ArrayType(wide))
      case other => throw new IllegalArgumentException(s"amend: need a dict or list, got $other")
    }
    // take/drop/distinct/ascend/descend/flip: the original Kerf's list
    // tier beyond the snapshot's slop.h verbs — q/k lineage semantics:
    // take CYCLES on over-take and a negative count takes from the end;
    // ascend/descend are the 0-based GRADE permutations (stable: ties
    // keep original order); flip transposes a rectangular list-of-lists.
    case ("take", Seq(a, n)) => a.dt match {
      case ArrayType(e, _) =>
        val sz = size(a.col)
        val cnt = abs(n.col).cast("int")
        def cyc(arr: Column) =
          when(sz === 0 || cnt === 0, slice(a.col, 1, 0))
            .otherwise(transform(sequence(lit(1), greatest(cnt, lit(1))),
              i => element_at(arr, pmod(i - 1, sz).cast("int") + 1)))
        T(when(n.col >= 0, cyc(a.col))
            .otherwise(reverse(cyc(reverse(a.col)))), ArrayType(e))
      case other => throw new IllegalArgumentException(s"take: need a list, got $other")
    }
    case ("drop", Seq(a, n)) => a.dt match {
      case ArrayType(e, _) =>
        val sz = size(a.col)
        val cnt = n.col.cast("int")
        T(when(cnt >= 0, slice(a.col, cnt + 1, greatest(sz - cnt, lit(0))))
            .otherwise(slice(a.col, lit(1), greatest(sz + cnt, lit(0)))), ArrayType(e))
      case other => throw new IllegalArgumentException(s"drop: need a list, got $other")
    }
    case ("distinct", Seq(a)) => a.dt match { // first-occurrence order
      case ArrayType(e, _) => T(array_distinct(a.col), ArrayType(e))
      case other => throw new IllegalArgumentException(
        s"distinct(…) is the LIST verb (per-row array dedup) and needs a list, " +
        s"got $other — for row-level DISTINCT write `select distinct c1, c2 …` " +
        "(no parens)")
    }
    case ("ascend", Seq(a)) => a.dt match {
      case ArrayType(_, _) =>
        T(transform(array_sort(transform(a.col,
              (x, i) => struct(x.as("v"), i.as("i")))),
            s => s.getField("i").cast("long")), ArrayType(LongType))
      case other => throw new IllegalArgumentException(s"ascend: need a list, got $other")
    }
    case ("descend", Seq(a)) => a.dt match {
      case ArrayType(_, _) =>
        val graded = array_sort(
          transform(a.col, (x, i) => struct(x.as("v"), i.as("i"))),
          (l, r) => when(l.getField("v") > r.getField("v"), -1)
            .when(l.getField("v") < r.getField("v"), 1)
            .otherwise(when(l.getField("i") < r.getField("i"), -1).otherwise(1))
            .cast("int"))
        T(transform(graded, s => s.getField("i").cast("long")), ArrayType(LongType))
      case other => throw new IllegalArgumentException(s"descend: need a list, got $other")
    }
    // asc/desc: sorted COPIES (the grade verbs ascend/descend return
    // the permutation; these return the reordered list).
    case ("asc", Seq(a)) => a.dt match {
      case ArrayType(e, _) => T(array_sort(a.col), ArrayType(e))
      case other => throw new IllegalArgumentException(s"asc: need a list, got $other")
    }
    case ("desc", Seq(a)) => a.dt match {
      case ArrayType(e, _) => T(reverse(array_sort(a.col)), ArrayType(e))
      case other => throw new IllegalArgumentException(s"desc: need a list, got $other")
    }
    // set ops on lists (SURVEY §2.7 at the text level): distinct
    // results, first-occurrence order (Spark's array_* semantics).
    case (op @ ("union" | "intersect" | "except"), Seq(a, b)) =>
      (a.dt, b.dt) match {
        case (ArrayType(ea, _), ArrayType(eb, _)) =>
          val e = widenArith(ea, eb)
          val (ac, bc) = (a.col.cast(ArrayType(e)), b.col.cast(ArrayType(e)))
          val r = op match {
            case "union"     => array_union(ac, bc)
            case "intersect" => array_intersect(ac, bc)
            case _           => array_except(ac, bc)
          }
          T(r, ArrayType(e))
        // scalar operands enlist first, the join rule
        case (ArrayType(_, _), _) =>
          applyListVerb(op, Seq(a, applyListVerb("enlist", Seq(b))))
        case (_, ArrayType(_, _)) =>
          applyListVerb(op, Seq(applyListVerb("enlist", Seq(a)), b))
        case other => throw new IllegalArgumentException(s"$op: need lists, got $other")
      }
    case ("flip", Seq(a)) => a.dt match {
      case ArrayType(inner @ ArrayType(_, _), _) =>
        T(transform(sequence(lit(1), size(element_at(a.col, 1))),
            j => transform(a.col, row => element_at(row, j))), ArrayType(inner))
      case other => throw new IllegalArgumentException(s"flip: need a list of lists, got $other")
    }
    // Math verbs (SURVEY §2.8 math row, text surface; q39 pins the
    // IEEE-exact engine pairing for the same functions): PERVASIVE like
    // arithmetic — sqrt(1 4 9) = [1.0, 2.0, 3.0], recursing through
    // nested lists (verbs.cc:207–255 unary dispatch).
    case ("abs", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(abs), a.dt)
    case ("sqrt", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(c => sqrt(c.cast("double"))),
        mapLeafType(a.dt, DoubleType))
    case ("exp", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(c => exp(c.cast("double"))),
        mapLeafType(a.dt, DoubleType))
    case ("ln", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(c => log(c.cast("double"))),
        mapLeafType(a.dt, DoubleType))
    case ("floor", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(c => floor(c)), mapLeafType(a.dt, LongType))
    case ("ceil", Seq(a)) =>
      T(Verbs.pervadeUnary(a.dt)(a.col)(c => ceil(c)), mapLeafType(a.dt, LongType))
    // bars(width, x): Kerf's bucketing verb — floor x to a multiple of
    // width. Numeric width buckets numbers; a fixed span buckets stamps
    // (and ns-longs) on the time line; a CALENDAR span (months) floors
    // to the month grid. The SQL surface of date_trunc/time_bucket with
    // Kerf span literals: `bars(15i, ts)`.
    case ("bars", Seq(w, x)) => w.span match {
      case Some(sp) if sp.months == 0 =>
        require(sp.nanos > 0, "bars: span width must be positive")
        x.dt match {
          case LongType | IntegerType => // ns-long axis
            T(x.col - pmod(x.col, lit(sp.nanos)), LongType)
          case TimestampType =>
            require(sp.nanos % 1000 == 0,
              "bars: sub-microsecond width needs an ns-long axis (TimestampType is µs)")
            val us = unix_micros(x.col)
            T(timestamp_micros(us - pmod(us, lit(sp.nanos / 1000))), TimestampType)
          case other => throw new IllegalArgumentException(
            s"bars: need a stamp or ns-long to bucket, got $other")
        }
      case Some(sp) => // calendar width: floor to the month grid
        require(sp.nanos == 0, "bars: mixed calendar+fixed span widths are ambiguous")
        require(sp.months > 0, "bars: span width must be positive")
        x.dt match {
          case TimestampType | DateType =>
            val total = (year(x.col) - 1970) * 12 + month(x.col) - 1
            val fl = total - pmod(total, lit(sp.months.toInt))
            T(make_date(lit(1970) + floor(fl / 12).cast("int"),
                pmod(fl, lit(12)).cast("int") + 1, lit(1)).cast(TimestampType),
              TimestampType)
          case other => throw new IllegalArgumentException(
            s"bars: calendar width needs a stamp, got $other")
        }
      case None => (w.dt, x.dt) match { // numeric bucketing
        case (DoubleType, _) | (_, DoubleType) =>
          T(w.col * floor(x.col.cast("double") / w.col), DoubleType)
        case _ => T(x.col - pmod(x.col, w.col), widenArith(w.dt, x.dt))
      }
    }
    case ("keys", Seq(a)) => a.dt match { // dict verbs (presented.h map surface)
      case MapType(k, _, _) => T(map_keys(a.col), ArrayType(k))
      case other => throw new IllegalArgumentException(s"keys: need a dict, got $other")
    }
    case ("values", Seq(a)) => a.dt match {
      case MapType(_, v, _) => T(map_values(a.col), ArrayType(v))
      case other => throw new IllegalArgumentException(s"values: need a dict, got $other")
    }
    // ── Seeded RNG family (rng.h:18–29, rng.cc, pcg/) ────────────────
    // The reference's per-thread PCG streams with `seed_fixed`
    // reproducibility become a stateless counter RNG: every draw is a
    // pure function of (seed, counter-or-key), so it survives task
    // retries and repartitioning — the seed is an EXPLICIT argument
    // everywhere (a hidden mutable seed is exactly the state a
    // distributed engine cannot keep). See functions.Rng.
    case ("randu64", Seq(s, x)) => // pervades like any unary verb
      T(Verbs.pervadeUnary(x.dt)(x.col)(v =>
          graft.functions.Rng.randu64(s.col.cast("long"), v.cast("long"))),
        mapLeafType(x.dt, LongType))
    case ("randu01", Seq(s, x)) =>
      T(Verbs.pervadeUnary(x.dt)(x.col)(v =>
          graft.functions.Rng.randu01(s.col.cast("long"), v.cast("long"))),
        mapLeafType(x.dt, DoubleType))
    case ("splitid", s +: k +: ws) if ws.nonEmpty =>
      // train/val/test fold assignment: `splitid(seed, key, 8, 1, 1)`
      // → 0/1/2 by cumulative weight on the key's uniform draw.
      // Weights are literal positives (they parameterize the split);
      // the last fold catches the remainder so every row lands.
      val weights = ws.map(w => litDouble(w).getOrElse(throw
        new IllegalArgumentException("splitid: weights must be literal numbers")))
      require(weights.forall(_ > 0), "splitid: weights must be positive")
      require(weights.lengthCompare(64) <= 0,
        s"splitid: ${weights.length} folds — the draw re-evaluates per " +
        "threshold in the CASE chain; 64 is the sanity bound")
      val total = weights.sum
      val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
      val u = graft.functions.Rng.randu01(s.col.cast("long"), k.col.cast("long"))
      var e: Column = lit((weights.length - 1).toLong)
      cum.init.zipWithIndex.reverse.foreach { case (c, idx) =>
        e = when(u < c, lit(idx.toLong)).otherwise(e)
      }
      // a NULL key draws NO fold (u is null, every `<` is null, the
      // chain would otherwise FALL THROUGH to the last fold and silently
      // contaminate the test split with every null-keyed row)
      T(when(u.isNotNull, e), LongType)
    case ("rand", Seq(s, n)) => // n uniform doubles on [0,1) — REPL face
      val (sd, cnt) = randArgs("rand", s, n)
      T(typedLit((0L until cnt).map(i => graft.functions.Rng.randU01(sd, i))),
        ArrayType(DoubleType))
    case ("rand", Seq(s, n, k)) => // n uniform longs on [0,k) — the
      // kerf1 bound convention: bound × unit-interval draw (rng.h:24)
      val (sd, cnt) = randArgs("rand", s, n)
      val bound = litLong(k).getOrElse(throw new IllegalArgumentException(
        "rand: the bound must be a literal"))
      require(bound > 0, s"rand: bound must be positive, got $bound")
      T(typedLit((0L until cnt).map(i =>
          (graft.functions.Rng.randU01(sd, i) * bound).toLong)),
        ArrayType(LongType))
    case ("deal", Seq(s, n, k)) => // n DISTINCT draws from [0,k) —
      // order the domain by its draw, take n (same rule both engines)
      val (sd, cnt) = randArgs("deal", s, n)
      val domain = litLong(k).getOrElse(throw new IllegalArgumentException(
        "deal: the domain size must be a literal"))
      require(domain <= 1000000L,
        s"deal: domain $domain exceeds the REPL bound 1000000 — sample a " +
        "table by its key instead: `order randu64(seed, key), key limit n`")
      require(cnt <= domain, s"deal: cannot draw $cnt distinct from $domain")
      T(typedLit((0L until domain)
          .sortBy(i => graft.functions.Rng.randU64(sd, i))
          .take(cnt.toInt)),
        ArrayType(LongType))
    case ("shuffle", Seq(s, x)) => x.dt match {
      // permute a list by drawing a key per POSITION and sorting on it
      // (64-bit keys: collisions are below any practical list size)
      case ArrayType(et, _) =>
        val perm = transform(
          array_sort(zip_with(x.col, sequence(lit(0L), size(x.col).cast("long") - 1L),
            (v, i) => struct(
              graft.functions.Rng.randu64(s.col.cast("long"), i).as("k"),
              v.as("v")))),
          st => st.getField("v"))
        T(when(size(x.col) <= 1, x.col).otherwise(perm), ArrayType(et))
      case other => throw new IllegalArgumentException(
        s"shuffle: need a list, got $other")
    }
    // ── Bit operations (bitops.h) ────────────────────────────────────
    // The reference's bit toolkit made user-facing on 64-bit longs:
    // and/or/xor/not, shifts (shl wraps — Java semantics; shr is
    // ARITHMETIC, the `>>` both Spark and DuckDB agree on), popcount,
    // and the two bitops.h originals — floor_log_2 (bitops.h:17; via
    // the binary-string length, exact where fp log2 misrounds near
    // powers of two) and is_power_of_2 (bitops.h:94).
    case ("band", Seq(a, b)) =>
      T(a.col.cast("long").bitwiseAND(b.col.cast("long")), LongType)
    case ("bor", Seq(a, b)) =>
      T(a.col.cast("long").bitwiseOR(b.col.cast("long")), LongType)
    case ("bxor", Seq(a, b)) =>
      T(a.col.cast("long").bitwiseXOR(b.col.cast("long")), LongType)
    case ("bnot", Seq(a)) => T(bitwise_not(a.col.cast("long")), LongType)
    case ("shl", Seq(a, n)) =>
      T(call_function("shiftleft", a.col.cast("long"), n.col.cast("int")), LongType)
    case ("shr", Seq(a, n)) =>
      T(call_function("shiftright", a.col.cast("long"), n.col.cast("int")), LongType)
    case ("popcount", Seq(a)) =>
      T(call_function("bit_count", a.col.cast("long")).cast("long"), LongType)
    case ("log2floor", Seq(a)) =>
      val v = a.col.cast("long")
      T(when(v <= 0, lit(null).cast(LongType))
        .otherwise(length(bin(v)).cast("long") - 1), LongType)
    case ("ispow2", Seq(a)) =>
      val v = a.col.cast("long")
      T(when(v <= 0, lit(false))
        .otherwise(v.bitwiseAND(v - 1) === 0), BooleanType)
    case _ => throw new IllegalArgumentException(
      s"verb '$fn' does not take ${args.length} arguments")
  }

  /** Literal extraction for verbs whose arguments parameterize the PLAN
    * (RNG seeds/counts): plain numeric literals only. */
  /** Constant-fold a PLAN-TIME argument column (seeds/counts/weights).
    * Column trees are pre-analysis here — arithmetic on literals shows
    * up as UnresolvedFunction('-'/'+'/'*'/negative) over Literal
    * children, never as a foldable resolved node — so fold the closed
    * arithmetic set by hand: `-7` and `0 - 7` are constants a caller
    * legitimately writes (a seed is an arbitrary long — half the seed
    * space is negative). */
  private def foldConst(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Any] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Literal
    e match {
      case Literal(v, _) => Option(v)
      case f: UnresolvedFunction =>
        val args = f.arguments.map(foldConst)
        if (args.exists(_.isEmpty)) None
        else {
          def num2(op: (Long, Long) => Long, fop: (Double, Double) => Double): Option[Any] =
            (args(0).get, args(1).get) match {
              case (a: Long, b: Long) => Some(op(a, b))
              case (a: Int, b: Int) => Some(op(a.toLong, b.toLong))
              case (a: Long, b: Int) => Some(op(a, b.toLong))
              case (a: Int, b: Long) => Some(op(a.toLong, b))
              case (a: Double, b: Double) => Some(fop(a, b))
              case (a: Double, b: Long) => Some(fop(a, b.toDouble))
              case (a: Long, b: Double) => Some(fop(a.toDouble, b))
              case _ => None
            }
          f.nameParts.last match {
            case "+" if args.lengthCompare(2) == 0 => num2(_ + _, _ + _)
            case "-" if args.lengthCompare(2) == 0 => num2(_ - _, _ - _)
            case "*" if args.lengthCompare(2) == 0 => num2(_ * _, _ * _)
            case "negative" if args.lengthCompare(1) == 0 => args(0).get match {
              case v: Long => Some(-v)
              case v: Int => Some(-v.toLong)
              case v: Double => Some(-v)
              case _ => None
            }
            case _ => None
          }
        }
      case _ => None
    }
  }
  private def litLong(t: T): Option[Long] =
    foldConst(org.apache.spark.sql.GraftColumnGlue.toCatalystExpr(t.col)) match {
      case Some(v: Long) => Some(v)
      case Some(v: Int) => Some(v.toLong)
      case _ => None
    }
  private def litString(t: T): Option[String] =
    foldConst(org.apache.spark.sql.GraftColumnGlue.toCatalystExpr(t.col)).collect {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
    }
  private def litDouble(t: T): Option[Double] =
    litLong(t).map(_.toDouble).orElse(
      foldConst(org.apache.spark.sql.GraftColumnGlue.toCatalystExpr(t.col)) match {
        case Some(v: Double) => Some(v)
        case _ => None
      })
  private def randArgs(verb: String, s: T, n: T): (Long, Long) = {
    val sd = litLong(s).getOrElse(throw new IllegalArgumentException(
      s"$verb: the seed must be a literal (reproducibility is the point)"))
    val cnt = litLong(n).getOrElse(throw new IllegalArgumentException(
      s"$verb: the count must be a literal"))
    require(cnt >= 0 && cnt <= 1000000L,
      s"$verb: count $cnt outside [0, 1000000] — the REPL bound; draw " +
      "per-row values with randu64/randu01(seed, key) instead")
    (sd, cnt)
  }

  /** Replace the LEAF type under any array nesting — the result type of
    * a pervasive unary verb that changes the element type. */
  private def mapLeafType(dt: DataType, to: DataType): DataType = dt match {
    case ArrayType(e, n) => ArrayType(mapLeafType(e, to), n)
    case _ => to
  }

  /** A select/group-list entry: the aliased Column, its source tokens and
    * alias (used to drop group items from the agg list — groupBy().agg()
    * auto-includes the keys), plus the UNALIASED column (`raw`) for call
    * sites where an Alias wrapper breaks analyzer matching — Dataset
    * .groupingSets matches set members to grouping columns structurally,
    * and an Alias on either side makes every key resolve to NULL. */
  private case class Item(col: Column, srcToks: List[String], alias: String,
                          raw: Column, autoAliased: Boolean = false)

  private def parseSelectItem(p: P, env: Env): Item = {
    val start = p.toks
    val wasItem = p.inSelectItem
    p.inSelectItem = true
    val e = try parseExpr(p, env) finally p.inSelectItem = wasItem
    val src = start.take(start.length - p.toks.length)
    val (alias, auto) =
      if (p.peekIs("as")) { p.pop(); (p.pop(), false) }
      else (src.mkString("_").replaceAll("[^A-Za-z0-9_]", "_"), true)
    Item(e.col.as(alias), src, alias, e.col, auto)
  }

  private def parseExprList(p: P, env: Env)(stop: => Boolean): Seq[Item] = {
    val items = scala.collection.mutable.ArrayBuffer[Item]()
    var more = true
    while (more && !p.done && !stop) {
      items += parseSelectItem(p, env)
      if (p.peekIs(",")) p.pop() else more = false
    }
    // AUTO-generated aliases sanitize every operator to '_', so
    // `a + b, a - b` would both land on `a___b` — uniquify later
    // auto collisions with a positional suffix (explicit `as` names
    // are the user's to collide if they insist)
    val seen = scala.collection.mutable.Set[String]()
    items.zipWithIndex.map { case (it, i) =>
      if (!seen.add(it.alias.toLowerCase) && it.autoAliased) {
        var k = 2
        var a = s"${it.alias}_$k"
        while (!seen.add(a.toLowerCase)) { k += 1; a = s"${it.alias}_$k" }
        it.copy(col = it.raw.as(a), alias = a)
      } else it
    }.toSeq
  }

  // ---------------------------------------------------------------- driver

  /** Evaluate a Kerf PROGRAM against the session catalog (tables must be
    * registered as temp views, e.g. via Folio.workspaceLoad): statements
    * separated by `;`, each one of
    *
    *  - a SQL head (`select/update/delete/insert/upsert …`) or a dedup
    *    verb (`dedup/neardup … by id on text`) → DataFrame;
    *  - `name : expr` — Kerf colon-assignment; the RHS is evaluated
    *    EAGERLY (REPL semantics, keeps loop-carried expressions bounded)
    *    and rebound as a literal;
    *  - `def name(params) { body }` — a named lambda (expression body);
    *  - `if (cond) { … } else { … }` / `while (cond) { … }` /
    *    `do { … } while (cond)` / `for (init; cond; step) { … }` /
    *    `for (name: vector) { … }` (iterate the vector's elements) —
    *    control flow, evaluated driver-side (the reference lexes the
    *    full control set if/do/while/for/def/return,
    *    RESERVED_CONTROL_NAMES lexer.h:100, DFA rows lexer.h:572–581;
    *    data-parallel work stays in the cluster — only the scalar
    *    condition comes back);
    *  - `return [expr]` — ends the program with expr as its result;
    *  - a bare Kerf expression.
    *
    * Returns the last statement's result (one-row `value` frame for
    * expressions/assignments). */
  def run(spark: SparkSession, statement: String): DataFrame =
    runWith(spark, statement,
      scala.collection.mutable.Map.empty, scala.collection.mutable.Map.empty)

  /** Session-wide semantic modes (`set order kerf|ansi`, `set eq
    * kerf|ansi`; both default ansi). Read at PARSE time by
    * [[parseOrderCols]] / [[parseCmp]] — dialect programs build their
    * plans on the calling thread, so a thread-local set for the
    * duration of [[runWith]] is exact; it is saved/restored around each
    * program so a bare `KerfSql.run` never inherits a mode leaked by an
    * [[Interp]] that ran earlier on the same pooled thread. */
  private val sessionModesTL = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }
  private def modeOf(key: String): String =
    sessionModesTL.get.getOrElse(key, "ansi")

  private def runWith(spark: SparkSession, statement: String,
                      vars: scala.collection.mutable.Map[String, T],
                      funcs: scala.collection.mutable.Map[String, FVal],
                      modes: scala.collection.mutable.Map[String, String] =
                        scala.collection.mutable.Map.empty): DataFrame = {
    def env = new Env(None, vars.toMap, funcs.toMap)
    var last: Either[DataFrame, T] = Right(T(lit(null), NullType))

    def truthy(t: T): Boolean = evalScalar(spark, t) match {
      case b: Boolean => b
      case null => false
      case n: Number => n.doubleValue() != 0.0
      case other => throw new IllegalArgumentException(s"non-boolean condition: $other")
    }

    def execBlock(toks: List[String]): Unit = splitTop(toks).foreach(execStmt)

    /** The frame of a table-valued statement, or None when `toks` is
      * not one. The statement site and the `name: stmt` site both
      * dispatch here, so a head cannot work at one and not the other. */
    def tableValued(toks: List[String]): Option[DataFrame] = {
      val p = new P(toks)
      lazy val verb = verbOf(toks)
      toks.headOption.fold("")(_.toLowerCase) match {
        case "select" => p.pop(); Some(runSelect(spark, p, vars.toMap, funcs.toMap))
        case "explain" if toks.lift(1).exists(_.equalsIgnoreCase("select")) =>
          // `explain select …` — the REPL's plan window: the formatted
          // Catalyst physical plan as a one-row frame, so a dialect
          // user can check pushdown/broadcast/codegen without leaving
          // the text surface (the discipline SCALING.md preaches).
          p.pop(); p.pop()
          val df = runSelect(spark, p, vars.toMap, funcs.toMap)
          import spark.implicits._
          Some(Seq(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            .toDF("plan"))
        // `u: update t set …` / `kept: delete from t where p` assign the
        // mutated frame like a select (the reference treats amend
        // results as values, presented.cc update-returns-table)
        case "update" => p.pop(); Some(runUpdate(spark, p, vars.toMap, funcs.toMap))
        case "delete" => p.pop(); Some(runDelete(spark, p, vars.toMap, funcs.toMap))
        case h @ ("insert" | "upsert") =>
          p.pop(); Some(runMerge(spark, p, h == "upsert", vars.toMap, funcs.toMap))
        // pipeline verbs: one table, see `pipelineVerbs`
        case _ if verb.isDefined => Some(verb.get.run(spark, toks))
        // `meta t` — exactly two tokens so `meta(x)` stays a user call
        case "meta" if toks.lengthCompare(2) == 0 &&
            toks(1).matches("[A-Za-z_][A-Za-z0-9_]*") =>
          p.pop(); Some(runMeta(spark, p))
        // `rexec 'host:port' 'program'` — Kerf IPC: ship the program,
        // get the value (path-first quoted shape like compact/probe)
        case "rexec" if toks.lengthCompare(3) >= 0 &&
            (toks(1).startsWith("'") || toks(1) == "[") =>
          p.pop(); Some(runRexec(spark, p))
        case _ => None
      }
    }

    def execStmt(toks: List[String]): Unit = {
      if (toks.isEmpty) return
      val table = tableValued(toks)
      if (table.isDefined) { last = Left(table.get); return }
      val p = new P(toks)
      toks.head.toLowerCase match {
        // `set order kerf|ansi` / `set eq kerf|ansi` — SESSION-WIDE
        // semantic modes (grade.cc:15–26 FLOAT_NANS_COMPARE_AS_SMALLEST
        // ordering; test.cc:102–108 null==NaN + epsilon equality — the
        // defaults a Kerf-1 migrant expects, vs Spark/ANSI NaN-largest
        // and exact `=`). Under kerf order-mode every BARE float/double
        // `order` key lowers through KerfOrdering.nanSmallest* (the
        // per-key `kerf(c)` wrapper, q142, made session-wide); under
        // kerf eq-mode `=`/`!=` between float-sided numeric operands
        // lower through KerfOrdering.epsEq. Exactly-three-token guard
        // keeps `set(x)` a user call and `set` a variable name.
        case "set" if toks.lengthCompare(2) >= 0 &&
            (toks(1).equalsIgnoreCase("order") || toks(1).equalsIgnoreCase("eq")) =>
          val key = toks(1).toLowerCase
          // wrong arity must not fall through to the bare-expression
          // path (an opaque unresolved-column error); name the fix
          require(toks.lengthCompare(3) == 0,
            s"set $key expects exactly one mode token: set $key kerf|ansi")
          val m = toks(2).toLowerCase
          require(m == "kerf" || m == "ansi",
            s"set $key expects kerf or ansi, got ${toks(2)}")
          modes(key) = m
          sessionModesTL.set(sessionModesTL.get + (key -> m))
          last = Right(T(lit(m), StringType))
        case "def" =>
          p.pop()
          val name = p.pop()
          p.expect("(")
          val params = scala.collection.mutable.ArrayBuffer[String]()
          while (!p.peekIs(")")) {
            params += p.pop()
            if (p.peekIs(",") || p.peekIs(";")) p.pop()
          }
          p.expect(")")
          p.expect("{")
          funcs(name) = Lambda(params.toSeq, blockBody(p), env)
          require(p.done, s"trailing tokens after def: ${p.toks.mkString(" ")}")
        case "if" =>
          p.pop(); p.expect("(")
          val cond = parseExpr(p, env); p.expect(")")
          p.expect("{")
          val thenToks = blockBody(p)
          val elseToks = if (p.peekIs("else")) {
            p.pop(); p.expect("{"); blockBody(p)
          } else Nil
          require(p.done, s"trailing tokens after if: ${p.toks.mkString(" ")}")
          if (truthy(cond)) execBlock(thenToks) else execBlock(elseToks)
        case "while" =>
          p.pop(); p.expect("(")
          val condToks = {
            // capture the condition tokens so it re-evaluates per round
            val start = p.toks
            val t0 = parseExpr(p, env) // parse once for syntax
            val n = start.length - p.toks.length
            val _ = t0
            start.take(n)
          }
          p.expect(")")
          p.expect("{")
          val body = blockBody(p)
          require(p.done, s"trailing tokens after while: ${p.toks.mkString(" ")}")
          var guard = 0
          while ({
            val cp = new P(condToks)
            val c = parseExpr(cp, env)
            truthy(c)
          }) {
            execBlock(body)
            guard += 1
            require(guard < 100000, "while: exceeded 100000 iterations")
          }
        case "do" =>
          // `do { body } while (cond)` — body runs at least once, the
          // condition re-evaluates after each round (lexer.h:100 ctrl_do)
          p.pop(); p.expect("{")
          val body = blockBody(p)
          p.expect("while"); p.expect("(")
          val condToks = parenBody(p)
          require(p.done, s"trailing tokens after do/while: ${p.toks.mkString(" ")}")
          var guard = 0
          while ({
            execBlock(body)
            guard += 1
            require(guard < 100000, "do: exceeded 100000 iterations")
            val cp = new P(condToks)
            truthy(parseExpr(cp, env))
          }) ()
        case "for" =>
          // two forms (lexer.h:100 ctrl_for):
          //   for (init; cond; step) { body }   — C-style, the reference's
          //     control tier; init/step are statements, cond re-evaluates
          //   for (name: vecExpr) { body }      — iterator sugar: bind
          //     name over the vector's elements (a scalar n iterates
          //     0..n-1, the `til` convention)
          p.pop(); p.expect("(")
          val header = parenBody(p)
          p.expect("{")
          val body = blockBody(p)
          require(p.done, s"trailing tokens after for: ${p.toks.mkString(" ")}")
          splitTop(header) match {
            case one :: Nil =>
              val hp = new P(one)
              val name = hp.pop()
              hp.expect(":")
              val vec = parseExpr(hp, env)
              require(hp.done, s"trailing tokens in for header: ${hp.toks.mkString(" ")}")
              val items: Seq[Any] = evalScalar(spark, vec) match {
                case s: scala.collection.Seq[_] => s.toSeq
                case a: Array[_] => a.toSeq
                case n: Number => 0L until n.longValue()
                case other => throw new IllegalArgumentException(
                  s"for ($name: …) needs a vector or count, got $other")
              }
              items.foreach { x =>
                vars(name) = litOf(x)
                execBlock(body)
              }
            case init :: cond :: step :: Nil =>
              execStmt(init)
              var guard = 0
              while ({
                val cp = new P(cond)
                truthy(parseExpr(cp, env))
              }) {
                execBlock(body)
                execStmt(step)
                guard += 1
                require(guard < 100000, "for: exceeded 100000 iterations")
              }
            case segs => throw new IllegalArgumentException(
              s"for needs (init; cond; step) or (name: vector), got ${segs.length} segment(s)")
          }
        case "return" =>
          // ends the whole program; its value (if any) is the result —
          // eager like colon-assignment (REPL semantics)
          p.pop()
          if (!p.done) {
            val t = parseExpr(p, env)
            require(p.done, s"trailing tokens after return: ${p.toks.mkString(" ")}")
            last = Right(litOf(evalScalar(spark, t)))
          }
          throw new ReturnSignal
        case name if toks.lengthCompare(2) >= 0 &&
                     (toks(1) == ">>" || toks(1) == ">>=") &&
                     name.matches("[A-Za-z_][A-Za-z0-9_.]*") =>
          // the reference's file verbs (slop.h:1021 `>>`, 1030 `>>=`):
          // `t >> 'path'` serializes the table to the path. The
          // directory-expanded form needs a partition spec a bare
          // operator doesn't carry — name the API instead of guessing.
          require(toks(1) == ">>",
            ">>= (directory-expanded write) needs partition keys: use " +
            "Folio.write(df, path, partCols…) — `t >> 'path'` writes flat")
          p.pop(); p.pop()
          val path = parseQuotedPath(p, s"$name >>")
          // `t >> 'path' jsonl|csv` — delivery formats: training data
          // ships as JSONL shards, exports as CSV; parquet stays the
          // default storage tier. `shard … into N` upstream controls
          // the file count (one file per partition).
          val fmt =
            if (p.peekIs("jsonl") || p.peekIs("json")) { p.pop(); "json" }
            else if (p.peekIs("csv")) { p.pop(); "csv" }
            else "parquet"
          require(p.done, s"trailing tokens after >>: ${p.toks.mkString(" ")}")
          val df = spark.table(name)
          fmt match {
            case "json" => df.write.mode("overwrite").json(path)
            case "csv"  => df.write.mode("overwrite")
              .option("header", "true").csv(path)
            case _      => df.write.mode("overwrite").parquet(path)
          }
          last = Left(df)
        case name if toks.lengthCompare(1) > 0 && toks(1) == ":" &&
                     name.matches("[A-Za-z_][A-Za-z0-9_.]*") =>
          p.pop(); p.pop() // name :
          if (p.peekIs("<<")) {
            // `x: << 'path'` — read back (slop.h:1037); promotion-aware,
            // so a folio published by appendWithPromotion resolves to
            // exactly its live version. Registers as a temp view like a
            // table-valued select.
            //
            // `x: << ['siteA', 'remote://host:port/t']` — a LIST of
            // locations is a FOLIO OF SITES (presented.h:427–430) read
            // as one table via federatedRead: local dirs keep native
            // scans, remote:// endpoints go through the socket client.
            p.pop()
            def quoted(t: String): String = {
              require(t.startsWith("'") && t.endsWith("'") && t.length > 2,
                s"<< needs a quoted path, got $t")
              unq(t)
            }
            val df =
              if (p.peekIs("[")) {
                p.pop()
                val locs = Seq.newBuilder[String]
                var first = true
                while (!p.peekIs("]")) {
                  if (!first) { require(p.pop() == ",",
                    "folio site list separates with commas") }
                  locs += quoted(p.pop()); first = false
                }
                p.pop() // ]
                val sites = locs.result()
                require(sites.nonEmpty, "<< [] needs at least one site")
                graft.io.Folio.federatedRead(spark, sites)
              } else {
                val loc = quoted(p.pop())
                // `<< 'path' version 'v00000001'` — TIME TRAVEL: read a
                // retained version instead of the live pointer (the
                // previous version survives every publish as the crash
                // fallback; a GC'd version fails loudly)
                if (p.peekIs("version")) {
                  p.pop(); graft.io.Folio.readVersion(spark, loc, quoted(p.pop()))
                } else graft.io.Folio.readSite(spark, loc)
              }
            require(p.done, s"trailing tokens after <<: ${p.toks.mkString(" ")}")
            df.createOrReplaceTempView(name)
            last = Left(df)
          } else tableValued(p.toks) match {
            // table-valued variable: the result registers as a temp view,
            // so later statements can `from` it by name
            case Some(df) =>
              df.createOrReplaceTempView(name)
              last = Left(df)
            case None =>
              val t = parseExpr(p, env)
              require(p.done, s"trailing tokens in assignment: ${p.toks.mkString(" ")}")
              // eager (REPL) semantics. Spans are already driver constants —
              // rebinding through spanT keeps the span TAG, so `sp: 1d2h;
              // ts + sp` still routes through calendar arithmetic instead of
              // raw long addition (and the tag survives workspace save).
              // Dicts rebind via parallel key/value ARRAYS: Kerf dicts are
              // insertion-ordered, and a collected scala Map drops that
              // order past 4 entries (HashMap)
              val bound = t.span match {
                case Some(sp) => spanT(sp)
                case None => t.dt match {
                  case MapType(_, _, _) =>
                    val ks = litOf(evalScalar(spark, T(map_keys(t.col), NullType)))
                    val vs = litOf(evalScalar(spark, T(map_values(t.col), NullType)))
                    val vdt = vs.dt match { case ArrayType(e, _) => e; case _ => NullType }
                    T(map_from_arrays(ks.col, vs.col), MapType(StringType, vdt))
                  case _ => litOf(evalScalar(spark, t))
                }
              }
              vars(name) = bound
              last = Right(bound)
          }
        case _ =>
          val t = parseExpr(p, env)
          require(p.done, s"trailing tokens: ${p.toks.mkString(" ")}")
          last = Right(t)
      }
    }

    val prevModes = sessionModesTL.get
    sessionModesTL.set(modes.toMap)
    try splitTop(lex(statement)).foreach(execStmt)
    catch { case _: ReturnSignal => } // `return` unwinds to here
    finally sessionModesTL.set(prevModes)
    last match {
      case Left(df) => df
      case Right(t) => oneRowFrame(spark).select(t.col.as("value"))
    }
  }

  /** Unwinds a program on `return` (stackless — pure control flow). */
  private final class ReturnSignal extends RuntimeException(null, null, false, false)

  // ------------------------------------------------ interpreter sessions

  /** A LIVE interpreter session: colon-assigned variables and `def`s
    * persist across [[run]] calls, and round-trip through a workspace —
    * the reference's workspace_save/load persists the whole Kerf Tree,
    * program state included, not just tables
    * (/root/reference/file.cc:994–1023, exercised test.cc:825–900).
    * Tables go through [[graft.io.Folio.workspaceSave]]; the program
    * tier saves here as `_PROGRAM.json` in the same directory: each
    * variable as its evaluated driver value with a type tag (variables
    * are eager literals — REPL semantics — so the value IS the state),
    * each `def` as its parameter list + body token stream. On load every
    * def is rebound against the COMPLETE restored def set (fixpoint
    * rebind in [[loadProgram]]) — a superset of live def-time-snapshot
    * scoping, so anything that resolved before the save still resolves
    * after, regardless of name-sort order in the file. */
  final class Interp(spark: SparkSession) {
    private val vars = scala.collection.mutable.Map[String, T]()
    private val funcs = scala.collection.mutable.Map[String, FVal]()
    // session modes (`set order kerf|ansi`) — persist across run calls
    // and round-trip through the workspace like vars/defs do
    private[graft] val modes = scala.collection.mutable.Map[String, String]()

    def run(statement: String): DataFrame =
      KerfSql.runWith(spark, statement, vars, funcs, modes)

    /** Session variable / `def` names — the console's completion feed. */
    def varNames: Seq[String] = vars.keys.toSeq.sorted
    def defNames: Seq[String] = funcs.keys.toSeq.sorted

    /** Program state → `path/_PROGRAM.json` (pairs with
      * Folio.workspaceSave into the same workspace directory). */
    def saveProgram(path: String): Unit = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.createObjectNode()
      val vn = root.putObject("vars")
      vars.toSeq.sortBy(_._1).foreach { case (name, t) =>
        vn.set[com.fasterxml.jackson.databind.JsonNode](name, valueNode(m, t))
      }
      val dn = root.putObject("defs")
      funcs.toSeq.sortBy(_._1).foreach {
        case (name, Lambda(params, body, _)) =>
          val e = dn.putObject(name)
          val pa = e.putArray("params"); params.foreach(pa.add)
          val ba = e.putArray("body"); body.foreach(ba.add)
        case (name, other) => throw new IllegalArgumentException(
          s"def '$name' is not serializable: $other")
      }
      if (modes.nonEmpty) {
        val mn = root.putObject("modes")
        modes.toSeq.sortBy(_._1).foreach { case (k, v) => mn.put(k, v) }
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "_PROGRAM.json"), m.writeValueAsString(root))
    }

    /** Restore program state saved by [[saveProgram]]; a workspace with
      * no `_PROGRAM.json` (tables-only, the pre-r8 format) is a no-op. */
    def loadProgram(path: String): Unit = {
      val f = java.nio.file.Paths.get(path, "_PROGRAM.json")
      if (!java.nio.file.Files.exists(f)) return
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(java.nio.file.Files.readString(f))
      val vn = root.get("vars")
      if (vn != null) {
        val it = vn.fields()
        while (it.hasNext) { val e = it.next(); vars(e.getKey) = nodeValue(e.getValue) }
      }
      val mn = root.get("modes")
      if (mn != null) {
        val it = mn.fields()
        while (it.hasNext) {
          val e = it.next()
          val (k, v) = (e.getKey, e.getValue.asText())
          // same value whitelist the `set` statement enforces: an invalid
          // VALUE of a known key must fail LOUDLY here, not load silently
          // and behave as ANSI (modeOf only compares == "kerf"). An
          // UNKNOWN key, though, is forward drift — a workspace written
          // by a build that grew a third mode — and hard-rejecting it
          // bricks the whole load (r17 ADVICE); warn-and-skip instead:
          // the modes this build understands still restore.
          if (k == "order" || k == "eq") {
            require(v == "kerf" || v == "ansi",
              s"workspace _PROGRAM.json: mode '$k' has invalid value '$v' (expected kerf|ansi)")
            modes(k) = v
          } else System.err.println(
            s"loadProgram: skipping unknown mode key '$k' (forward-written workspace?)")
        }
      }
      val dn = root.get("defs")
      if (dn != null) {
        val it = dn.fields()
        val parsed = scala.collection.mutable.ListBuffer[(String, Seq[String], List[String])]()
        while (it.hasNext) {
          val e = it.next()
          val params = scala.jdk.CollectionConverters.IteratorHasAsScala(
            e.getValue.get("params").elements()).asScala.map(_.asText()).toSeq
          val body = scala.jdk.CollectionConverters.IteratorHasAsScala(
            e.getValue.get("body").elements()).asScala.map(_.asText()).toList
          parsed += ((e.getKey, params, body))
        }
        // saveProgram writes defs name-sorted, not definition-ordered (the
        // live order isn't tracked), so one-pass restore would break any
        // def calling a later-sorted name that was defined EARLIER live.
        // Rebind to a fixpoint instead: each pass binds every Lambda to an
        // Env holding the previous pass's Lambdas, so pass k resolves call
        // chains of depth k among loaded defs. parsed.size passes cover
        // any chain a live session could build (live scoping is a DAG over
        // definition time — no self/mutual recursion to chase further).
        var snap: Map[String, FVal] = funcs.toMap
        for (_ <- 0 to parsed.size) {
          val env = new Env(None, vars.toMap, snap)
          snap = funcs.toMap ++ parsed.map { case (n, p, b) => n -> Lambda(p, b, env) }
        }
        parsed.foreach { case (n, _, _) => funcs(n) = snap(n) }
      }
    }

    /** T → tagged JSON. Variables are eager literals, so evaluation is a
      * driver-side one-row job per var (tiny, save-time only). */
    private def valueNode(m: com.fasterxml.jackson.databind.ObjectMapper,
                          t: T): com.fasterxml.jackson.databind.JsonNode = {
      val n = m.createObjectNode()
      t.span match {
        case Some(sp) =>
          n.put("t", "span"); n.put("months", sp.months); n.put("nanos", sp.nanos)
        case None => t.dt match {
          case MapType(_, _, _) =>
            // insertion-ordered parallel arrays, like colon-assignment
            n.put("t", "dict")
            n.set[com.fasterxml.jackson.databind.JsonNode]("k",
              anyNode(m, evalScalar(spark, T(map_keys(t.col), NullType))))
            n.set[com.fasterxml.jackson.databind.JsonNode]("v",
              anyNode(m, evalScalar(spark, T(map_values(t.col), NullType))))
          case _ =>
            n.put("t", "val")
            n.set[com.fasterxml.jackson.databind.JsonNode]("v",
              anyNode(m, evalScalar(spark, t)))
        }
      }
      n
    }

    private def anyNode(m: com.fasterxml.jackson.databind.ObjectMapper,
                        v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
      case null => m.getNodeFactory.nullNode()
      case b: Boolean => m.getNodeFactory.booleanNode(b)
      case i: Int => m.getNodeFactory.numberNode(i.toLong)
      case l: Long => m.getNodeFactory.numberNode(l)
      case d: Double => m.getNodeFactory.numberNode(d)
      case f: Float => m.getNodeFactory.numberNode(f.toDouble)
      case s: String => m.getNodeFactory.textNode(s)
      case ts: java.sql.Timestamp =>
        // object-wrapped so a user STRING that looks like a stamp can
        // never be mis-restored as one
        val o = m.createObjectNode(); o.put("@ts", ts.toInstant.toString); o
      // DateType vars bind via litOf (stamp['date'] assignments) — they
      // must round-trip the workspace like stamps do
      case d: java.sql.Date =>
        val o = m.createObjectNode(); o.put("@d", d.toLocalDate.toString); o
      case d: java.time.LocalDate =>
        val o = m.createObjectNode(); o.put("@d", d.toString); o
      case seq: scala.collection.Seq[_] =>
        val a = m.createArrayNode()
        seq.foreach(x => a.add(anyNode(m, x)))
        a
      case other => throw new IllegalArgumentException(
        s"workspace cannot serialize value of ${other.getClass}")
    }

    private def nodeValue(n: com.fasterxml.jackson.databind.JsonNode): T =
      n.get("t").asText() match {
        case "span" =>
          spanT(Temporal.Span(n.get("months").asLong(), n.get("nanos").asLong()))
        case "dict" =>
          val ks = litOf(anyValue(n.get("k")))
          val vs = litOf(anyValue(n.get("v")))
          val vdt = vs.dt match { case ArrayType(e, _) => e; case _ => NullType }
          T(map_from_arrays(ks.col, vs.col), MapType(StringType, vdt))
        case "val" => litOf(anyValue(n.get("v")))
        case other => throw new IllegalArgumentException(s"bad workspace tag $other")
      }

    private def anyValue(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isNull) null
      else if (n.isBoolean) n.asBoolean()
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isFloatingPointNumber) n.asDouble()
      else if (n.isTextual) n.asText()
      else if (n.isObject && n.has("@ts"))
        java.sql.Timestamp.from(java.time.Instant.parse(n.get("@ts").asText()))
      else if (n.isObject && n.has("@d"))
        java.sql.Date.valueOf(n.get("@d").asText())
      else if (n.isArray)
        scala.jdk.CollectionConverters.IteratorHasAsScala(n.elements())
          .asScala.map(anyValue).toSeq
      else throw new IllegalArgumentException(s"bad workspace value $n")
  }

  /** Tokens of a `{ … }` block whose opening brace is already consumed. */
  private def blockBody(p: P): List[String] = {
    val body = scala.collection.mutable.ListBuffer[String]()
    var depth = 1
    while (depth > 0) {
      require(!p.done, "unterminated block: missing '}'")
      val t = p.pop()
      t match {
        case "{" => depth += 1; body += t
        case "}" => depth -= 1; if (depth > 0) body += t
        case _   => body += t
      }
    }
    body.toList
  }

  /** Tokens of a `( … )` group whose opening paren is already consumed. */
  private def parenBody(p: P): List[String] = {
    val body = scala.collection.mutable.ListBuffer[String]()
    var depth = 1
    while (depth > 0) {
      require(!p.done, "unterminated group: missing ')'")
      val t = p.pop()
      t match {
        case "(" => depth += 1; body += t
        case ")" => depth -= 1; if (depth > 0) body += t
        case _   => body += t
      }
    }
    body.toList
  }

  /** Split a token stream on top-level `;` (outside (), [], {}). */
  private def splitTop(toks: List[String]): List[List[String]] = {
    val out = scala.collection.mutable.ListBuffer[List[String]]()
    val cur = scala.collection.mutable.ListBuffer[String]()
    var depth = 0
    toks.foreach {
      case t @ ("(" | "[" | "{") => depth += 1; cur += t
      case t @ (")" | "]" | "}") => depth -= 1; cur += t
      case ";" if depth == 0 => out += cur.toList; cur.clear()
      case t => cur += t
    }
    if (cur.nonEmpty) out += cur.toList
    out.toList
  }

  /** Evaluate a table-free expression to a driver value (plan-only input;
    * one-row job). */
  /** 1-row LocalRelation for scalar evaluation — NOT spark.range(1):
    * Range is a real leaf that schedules a (1-task) Spark job per
    * collect, and the dialect's control-flow tier evaluates one scalar
    * per loop iteration (q105's for/do-while paid ~15 scheduled jobs of
    * pure overhead). Over a LocalRelation the optimizer's
    * ConvertToLocalRelation folds deterministic projections, so
    * collect() answers driver-side with ZERO jobs; non-deterministic
    * expressions (the rng verbs) still evaluate once-per-row exactly as
    * before, just over a local 1-row scan. */
  private def oneRowFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__one",
          org.apache.spark.sql.types.IntegerType, nullable = false))))

  private def evalScalar(spark: SparkSession, t: T): Any =
    oneRowFrame(spark).select(t.col).collect()(0).get(0)

  /** Re-literalize a driver value (eager-assignment rebinding). */
  private def litOf(v: Any): T = v match {
    case null            => T(lit(null), NullType)
    case b: Boolean      => T(lit(b), BooleanType)
    case i: Int          => T(lit(i.toLong), LongType)
    case l: Long         => T(lit(l), LongType)
    case f: Float        => T(lit(f.toDouble), DoubleType)
    case d: Double       => T(lit(d), DoubleType)
    case s: String       => T(lit(s), StringType)
    case ts: java.sql.Timestamp => T(lit(ts), TimestampType)
    case d: java.sql.Date => T(lit(d), DateType)
    case d: java.time.LocalDate => T(lit(d), DateType)
    case seq: scala.collection.Seq[_] =>
      val vals = seq.toSeq
      if (vals.forall(_.isInstanceOf[Long]))
        T(typedLit(vals.map(_.asInstanceOf[Long])), ArrayType(LongType))
      else if (vals.forall(v2 => v2.isInstanceOf[Double] || v2.isInstanceOf[Long]))
        T(typedLit(vals.map {
          case d: Double => d
          case l: Long => l.toDouble
          case other => throw new IllegalArgumentException(s"bad element $other")
        }), ArrayType(DoubleType))
      else if (vals.forall(_.isInstanceOf[String]))
        T(typedLit(vals.map(_.asInstanceOf[String])), ArrayType(StringType))
      else if (vals.nonEmpty && vals.forall(_.isInstanceOf[scala.collection.Seq[_]])) {
        // nested list value (matrix variable): rebind as array<array<…>>,
        // widening long→double when any inner element is fractional
        val inner = vals.map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq)
        if (inner.forall(_.forall(_.isInstanceOf[Long])))
          T(typedLit(inner.map(_.map(_.asInstanceOf[Long]))),
            ArrayType(ArrayType(LongType)))
        else if (inner.forall(_.forall(v2 => v2.isInstanceOf[Double] || v2.isInstanceOf[Long])))
          T(typedLit(inner.map(_.map {
              case d: Double => d
              case l: Long => l.toDouble
              case other => throw new IllegalArgumentException(s"bad element $other")
            })), ArrayType(ArrayType(DoubleType)))
        else throw new IllegalArgumentException(
          s"cannot rebind nested array of ${inner.flatten.headOption.map(_.getClass).getOrElse("?")}")
      }
      else throw new IllegalArgumentException(
        s"cannot rebind array of ${vals.headOption.map(_.getClass).getOrElse("?")}")
    case m: scala.collection.Map[_, _] => // dict-valued variable
      val entries = m.toSeq.map { case (k, v) => (String.valueOf(k), v) }
      if (entries.forall(_._2.isInstanceOf[Long]))
        T(typedLit(entries.map { case (k, v) => k -> v.asInstanceOf[Long] }.toMap),
          MapType(StringType, LongType))
      else if (entries.forall(e => e._2.isInstanceOf[Double] || e._2.isInstanceOf[Long]))
        T(typedLit(entries.map { case (k, v) => k -> (v match {
            case d: Double => d; case l: Long => l.toDouble
            case other => throw new IllegalArgumentException(s"bad value $other")
          })}.toMap), MapType(StringType, DoubleType))
      else if (entries.forall(_._2.isInstanceOf[String]))
        T(typedLit(entries.map { case (k, v) => k -> v.asInstanceOf[String] }.toMap),
          MapType(StringType, StringType))
      else throw new IllegalArgumentException("cannot rebind heterogeneous dict")
    case other => throw new IllegalArgumentException(
      s"cannot rebind ${other.getClass.getSimpleName} in assignment")
  }

  /** Split a select statement's tokens into clause segments at top level
    * (the reference scoops clauses the same way, parser.h:541–567) — the
    * FROM clause must lower to a DataFrame before the select items can be
    * typed, and with as-of joins the from clause is no longer one token. */
  private def selectClauses(toks: List[String]): Map[String, List[String]] = {
    val heads = Set("from", "where", "group", "order", "limit")
    val out = scala.collection.mutable.Map[String, List[String]]()
    val buf = scala.collection.mutable.ListBuffer[String]()
    var cur = "select"
    var depth = 0
    toks.foreach {
      case t @ ("(" | "[" | "{") => depth += 1; buf += t
      case t @ (")" | "]" | "}") => depth -= 1; buf += t
      case w if depth == 0 && heads(w.toLowerCase) =>
        require(!out.contains(cur), s"duplicate '$cur' clause")
        out(cur) = buf.toList; buf.clear(); cur = w.toLowerCase
      case t => buf += t
    }
    require(!out.contains(cur), s"duplicate '$cur' clause")
    out(cur) = buf.toList
    out.toMap
  }

  /** `from t`, or the parted-table as-of surface the reference promises
    * (/root/reference/presented.h:409–430) lowered to the NATIVE exec
    * ([[graft.ops.AsOf.joinNative]] → plans.AsOfJoinPlan):
    *
    *   `from l asof join r on k1[, k2…] at lts[, rts] [within tol] [forward]`
    *
    * `within` takes a span literal (interpreted in ns — Kerf STAMP
    * granularity, enums.h:166) or a bare integer in the ts column's own
    * unit; `forward` matches the next row at-or-after instead of the
    * latest at-or-before. Right-side non-key columns must not collide
    * with left names (joinNative contract — rename in the view). */
  private def parseFromClause(spark: SparkSession, toks: List[String],
                              programVars: Map[String, T],
                              programFuncs: Map[String, FVal]): (DataFrame, Env) = {
    val p = new P(toks)
    val leftName = p.pop()
    val left = spark.table(leftName)
    if (p.peekIs("join") || p.peekIs("left") || p.peekIs("semi") || p.peekIs("anti")) {
      // plain relational joins in the from clause — the PRESENTED `join`
      // overload the reference declares (presented.h:406 TODO):
      //   from l join r on k1[, k2]          (inner, USING-style)
      //   from l left join r on a = b        (left outer, named sides)
      //   from l semi join r on k / anti join (existence filters)
      val how = p.pop().toLowerCase match {
        case "join" => "inner"
        case w @ ("left" | "semi" | "anti") => p.expect("join"); w match {
          case "left" => "left"
          case "semi" => "left_semi"
          case "anti" => "left_anti"
        }
      }
      val rightName = p.pop()
      val right = spark.table(rightName)
      p.expect("on")
      // key list: `a` (same name both sides) or `a = b`, comma-separated
      val using = scala.collection.mutable.ArrayBuffer[String]()
      val pairs = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var more = true
      while (more) {
        val l = p.pop()
        if (p.peekIs("=")) { p.pop(); pairs += ((l, p.pop())) } else using += l
        if (p.peekIs(",")) p.pop() else more = false
      }
      require(p.done, s"trailing tokens in from clause: ${p.toks.mkString(" ")}")
      require(using.isEmpty != pairs.isEmpty,
        "join keys must be all `k` (using) or all `a = b` — not mixed")
      val joined =
        if (using.nonEmpty) left.join(right, using.toSeq, how)
        else {
          val cond = pairs.map { case (a, b) => left(a) === right(b) }
            .reduce(_ && _)
          left.join(right, cond, how)
        }
      (joined, new Env(Some(joined.schema), programVars, programFuncs,
        tnames = Set(leftName.toLowerCase, rightName.toLowerCase),
        session = Some(spark)))
    } else if (p.peekIs("window")) {
      // WINDOW JOIN (q's wj, the second canonical tick join next to
      // asof; Kerf1 heritage): for each left row, the right rows whose
      // time axis falls in a band around the left's — the caller then
      // aggregates them with the ordinary grouped select (`group` over
      // the left columns, aggregates over the right's):
      //   from trades window join quotes on sym at t_ts, q_ts within 1s
      //   [back|forward]   (default: symmetric ±tol)
      // Lowers to ONE equi-band left join: equality on the keys makes
      // it a hash/sort-merge join with a band residual — never a
      // cartesian — and empty bands keep the left row with null
      // aggregates (the wj convention). Time axes must be LongType
      // (the engine's exact-ns convention; `within` span literals are
      // ns, a bare integer is in the column's own unit).
      p.pop(); p.expect("join")
      val rightName = p.pop()
      val right = spark.table(rightName)
      p.expect("on")
      val keys = scala.collection.mutable.ArrayBuffer[String](p.pop())
      while (p.peekIs(",")) { p.pop(); keys += p.pop() }
      p.expect("at")
      val lts = p.pop()
      val rts = if (p.peekIs(",")) { p.pop(); p.pop() } else lts
      p.expect("within")
      val tTok = p.pop()
      val tol: Long =
        if (tTok.matches("""\d+""")) tTok.toLong
        else {
          val sp = Temporal.Span.parse(tTok)
          require(sp.months == 0, "window-join band must be a fixed-length span")
          sp.nanos
        }
      var back = false; var fwd = false; var prevailing = false
      while (!p.done) {
        if (p.peekIs("back")) { p.pop(); back = true }
        else if (p.peekIs("forward")) { p.pop(); fwd = true }
        else if (p.peekIs("prevailing")) { p.pop(); prevailing = true }
        else throw new IllegalArgumentException(
          s"unexpected from-clause token '${p.pop()}'")
      }
      require(!(back && fwd), "window join: pick `back` or `forward`, not both")
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      val lt = left.schema(lts).dataType
      val isTs = lt == TimestampType || lt == TimestampNTZType
      require((lt == LongType || isTs) && right.schema(rts).dataType == lt,
        s"window join time axes must both be LongType epochs (ns) or " +
        s"Timestamps — got $lt/${right.schema(rts).dataType}")
      // long axes band in the column's own unit (span literals are ns —
      // the ts_ns convention); timestamp axes band in µs (a timestamp
      // IS a µs long physically; span ns → µs, bare integers are µs —
      // the same unit contract as the as-of tolerance)
      val tolU = if (isTs && !tTok.matches("""\d+""")) tol / 1000L else tol
      val lo = if (fwd) 0L else tolU
      val hi = if (back) 0L else tolU
      val sfx = "__wj_r"
      val r2 = right.toDF(right.columns.map(_ + sfx): _*)
      // NTZ → session-tz cast is the identity under the engine's pinned
      // UTC session (Engine.scala) and keeps unix_micros analyzable
      def axis(c: Column): Column =
        if (isTs) unix_micros(c.cast(TimestampType)) else c
      val cond = keys.map(k => left(k) === r2(k + sfx)).reduce(_ && _) &&
        axis(r2(rts + sfx)) >= axis(left(lts)) - lit(lo) &&
        axis(r2(rts + sfx)) <= axis(left(lts)) + lit(hi)
      val joined0 = left.join(r2, cond, "left")
      val dropCols = (keys.toSeq :+ rts).distinct.map(_ + sfx)
      var out = joined0.drop(dropCols: _*)
      right.columns.filterNot(c => keys.contains(c) || c == rts).foreach { c =>
        require(!left.columns.contains(c),
          s"window join: right column '$c' collides with a left column — " +
          "alias it in a prior statement")
        out = out.withColumnRenamed(c + sfx, c)
      }
      if (prevailing) {
        // q's wj (vs wj1): each window ALSO carries the value in
        // effect on entry — the latest right row STRICTLY before the
        // band start (at-start rows are already in-band; strict keeps
        // the count single). One extra pair-row per left row via the
        // native as-of merge at the shifted axis, unioned into the
        // pair frame the grouped select aggregates. Right-side ts
        // ties: dedup the right table per (key, ts) upstream, or the
        // carried value is whichever tied row the merge keeps.
        // the single-axis form (`at ts`) shares the axis NAME between
        // sides — rename the right axis for the merge instead of
        // rejecting the most common tick-table shape
        val rAxis = if (left.columns.contains(rts)) "__wj_rts" else rts
        val rightA = if (rAxis == rts) right
                     else right.withColumnRenamed(rts, rAxis)
        val entry = if (isTs)
          (col(lts) - expr(s"INTERVAL '$lo' MICROSECOND")).cast(lt)
        else col(lts) - lit(lo)
        val shifted = left.withColumn("__wj_entry", entry)
        val prev0 = graft.ops.AsOf.joinNative(shifted, rightA, keys.toSeq,
          "__wj_entry", rAxis, strict = true)
        val prevPairs = prev0.filter(col(rAxis).isNotNull)
          .drop("__wj_entry", rAxis)
        out = out.unionByName(prevPairs)
      }
      (out, new Env(Some(out.schema), programVars, programFuncs,
        tnames = Set(leftName.toLowerCase, rightName.toLowerCase),
        session = Some(spark)))
    } else if (!p.peekIs("asof")) {
      require(p.done, s"trailing tokens in from clause: ${p.toks.mkString(" ")}")
      (left, new Env(Some(left.schema), programVars, programFuncs,
        tnames = Set(leftName.toLowerCase),
        session = Some(spark)))
    } else {
      p.pop(); p.expect("join")
      val asofRightName = p.pop()
      val right = spark.table(asofRightName)
      p.expect("on")
      val keys = scala.collection.mutable.ArrayBuffer[String](p.pop())
      while (p.peekIs(",")) { p.pop(); keys += p.pop() }
      p.expect("at")
      val lts = p.pop()
      val rts = if (p.peekIs(",")) { p.pop(); p.pop() } else lts
      var tol: Option[Long] = None
      var fwd = false
      var strict = false
      while (!p.done) {
        if (p.peekIs("within")) {
          p.pop(); val t = p.pop()
          tol = Some(
            if (t.matches("""\d+""")) t.toLong
            else {
              val sp = Temporal.Span.parse(t)
              require(sp.months == 0, "as-of tolerance must be a fixed-length span")
              // span literals are ns (the exact-ns convention), but a
              // TimestampType axis is physically µs and the native exec
              // compares raw axis longs — convert, the same unit rule
              // as the window-join branch (a bare integer stays in the
              // column's own unit)
              val lt = left.schema(lts).dataType
              if (lt == TimestampType || lt == TimestampNTZType) sp.nanos / 1000L
              else sp.nanos
            })
        } else if (p.peekIs("forward")) { p.pop(); fwd = true }
        // `strict` — before, never AT (kdb's aj vs the < variant): the
        // latest right row with rts < lts (rts > lts under forward)
        else if (p.peekIs("strict")) { p.pop(); strict = true }
        else throw new IllegalArgumentException(
          s"unexpected from-clause token '${p.pop()}'")
      }
      val joined = graft.ops.AsOf.joinNative(left, right, keys.toSeq, lts, rts,
        strict = strict, tolerance = tol, forward = fwd)
      (joined, new Env(Some(joined.schema), programVars, programFuncs,
        tnames = Set(leftName.toLowerCase, asofRightName.toLowerCase),
        session = Some(spark)))
    }
  }

  private def runSelect(spark: SparkSession, p: P,
                        programVars: Map[String, T] = Map.empty,
                        programFuncs: Map[String, FVal] = Map.empty): DataFrame = {
    val segs = selectClauses(p.toks)
    p.toks = Nil
    val fromToks = segs.getOrElse("from",
      throw new IllegalArgumentException("select needs a from clause"))
    val (base, env) = parseFromClause(spark, fromToks, programVars, programFuncs)
    var df = base
    def segParser(name: String): Option[P] = segs.get(name).map(new P(_))
    def finish(sp: P, what: String): Unit =
      require(sp.done, s"trailing tokens in $what: ${sp.toks.mkString(" ")}")
    val selToksRaw = segs.getOrElse("select", Nil)
    // `select distinct a, b …` — the SQL set-projection form (the §2.7
    // row-level sibling of the list verb): dedup AFTER the projection,
    // before order/limit. Redundant (and rejected) with `group` — the
    // grouped result is already one row per key.
    // NOT the modifier when followed by '(' — `distinct(xs)` is the
    // documented call-form LIST verb (per-row array dedup) and must
    // keep its semantics
    val distinctSel = selToksRaw.headOption.exists(_.equalsIgnoreCase("distinct")) &&
      selToksRaw.lengthCompare(1) > 0 && selToksRaw(1) != "("
    val selToks = if (distinctSel) selToksRaw.tail else selToksRaw
    def parseItems(e: Env) =
      if (selToks.map(_.toLowerCase) == List("*") || selToks.isEmpty) Nil
      else {
        val sp = new P(selToks)
        val its = parseExprList(sp, e)(false)
        finish(sp, "select items"); its
      }
    segParser("where").foreach { wp =>
      // an fby predicate contains a WINDOW, which Spark rejects inside
      // a bare WHERE — stage it as a projected boolean and filter on
      // that. Detection is a conservative token scan (agg "(" … "by"):
      // a false positive only costs a projection Catalyst collapses.
      val hasFby = {
        val toks = wp.toks
        toks.exists(_.equalsIgnoreCase("by")) &&
          toks.sliding(2).exists(w => w.lengthCompare(2) == 0 &&
            fbyAggFns(w.head.toLowerCase) && w(1) == "(")
      }
      val pred = parseExpr(wp, env).col
      finish(wp, "where")
      df = if (hasFby)
        df.withColumn("__fby_p", pred).filter(col("__fby_p")).drop("__fby_p")
      else df.filter(pred)
    }
    // `group a, b % 3 as bucket` — full expressions with optional aliases
    // (Kerf groups by computed keys: time buckets, mod classes, …);
    // `group rollup (a, b)` / `group cube (a, b)` switch the grouping to
    // the hierarchical/multidimensional forms (lowered to Dataset
    // .rollup/.cube — same oracled engines paths as q17/q40);
    // `group sets ((a, b), (a), ())` is the general enumerated form —
    // rollup/cube are its two shorthands — lowered to
    // Dataset.groupingSets (one pass, same Expand-based physical plan)
    var groupMode = "group"
    var groupSetCols: Seq[Seq[Column]] = Nil
    val groupItems = segParser("group").map { gp =>
      if (gp.peek.exists(t => t.equalsIgnoreCase("rollup") || t.equalsIgnoreCase("cube"))
          && gp.peek2.contains("(")) {
        groupMode = gp.pop().toLowerCase
        gp.expect("(")
        val its = parseExprList(gp, env)(false)
        gp.expect(")")
        finish(gp, "group"); its
      } else if (gp.peek.exists(_.equalsIgnoreCase("sets")) &&
                 gp.peek2.contains("(")) {
        groupMode = "sets"
        gp.pop(); gp.expect("(")
        val sets = scala.collection.mutable.ArrayBuffer[Seq[Item]]()
        var more = true
        while (more) {
          if (gp.peekIs("(")) {
            gp.expect("(")
            val its = if (gp.peekIs(")")) Nil
                      else parseExprList(gp, env)(gp.peekIs(")"))
            gp.expect(")")
            sets += its
          } else {
            // standard-SQL shorthand: a bare expression is a one-column set
            sets += Seq(parseSelectItem(gp, env))
          }
          if (gp.peekIs(",")) gp.pop() else more = false
        }
        gp.expect(")")
        finish(gp, "group")
        // grouped output columns = first-appearance union across sets;
        // each set reuses the UNION Item's UNALIASED Column — Dataset
        // .groupingSets matches set members to grouping columns
        // structurally, and an Alias wrapper on either side defeats the
        // match (every key comes back NULL). Aliases are re-applied in
        // the output projection after agg.
        val seen = scala.collection.mutable.LinkedHashMap[List[String], Item]()
        sets.flatten.foreach(i =>
          if (!seen.contains(i.srcToks)) seen(i.srcToks) = i)
        groupSetCols = sets.toSeq.map(_.map(i => seen(i.srcToks).raw))
        seen.values.toSeq
      } else {
        val its = parseExprList(gp, env)(false); finish(gp, "group"); its
      }
    }.getOrElse(Nil)
    // a select item invoking a window TABLE verb (sums/deltas/…) switches
    // the statement to windowed form: `group` becomes PARTITION BY,
    // `order` the in-partition frame order (and the total output order —
    // partition keys first, so the result is deterministically sorted)
    def callsAny(names: Set[String]) = selToks.sliding(2).exists(w =>
      w.lengthCompare(2) == 0 && names.contains(w.head.toLowerCase) &&
        w(1) == "(" && !programFuncs.contains(w.head))
    val windowed = callsAny(windowVerbs)
    if (windowed) {
      // window verbs repurpose `group` as PARTITION BY, so a plain
      // aggregate in the same select has no grouping to aggregate over —
      // reject at the dialect level instead of leaking a Spark analysis
      // error about missing GROUP BY
      require(!callsAny(aggFns),
        "window verbs (sums/deltas/…) cannot mix with plain aggregates " +
        "(sum/avg/…) in one select: `group` is the window PARTITION BY " +
        "here, not an aggregation — split into two selects")
      require(!distinctSel,
        "select distinct cannot combine with window verbs (sums/deltas/…): " +
        "dedup the input or the result in a separate select")
      // same trap for the grouping-set forms: silently downgrading
      // `group cube (a, b)` to a plain PARTITION BY would return wrong
      // results, so reject it the way the aggregate mix is rejected
      require(groupMode == "group",
        s"window verbs (sums/deltas/…) cannot combine with `group $groupMode`: " +
        "rollup/cube/sets are aggregations, the windowed select's `group` is " +
        "a PARTITION BY — split into two selects")
      import org.apache.spark.sql.expressions.Window
      val (orderCols, firstKey) = segParser("order").map { op =>
        // first order key's source tokens (desc `-` and the kerf(…)
        // ordering wrapper stripped) — the only thing ranks() may name
        val fk = {
          // first ITEM = up to the first TOP-LEVEL comma (an expression
          // key like randu64(3, k) carries commas inside its parens)
          var depth = 0
          val raw = op.toks.takeWhile { t =>
            if (t == "(") depth += 1 else if (t == ")") depth -= 1
            !(t == "," && depth == 0)
          }.map(_.toLowerCase)
          val noDesc = if (raw.headOption.contains("-")) raw.tail else raw
          noDesc match {
            case "kerf" :: "(" :: rest => rest.takeWhile(_ != ")")
            case other => other
          }
        }
        val c = parseOrderCols(op, env, Some(df.schema)); finish(op, "order"); (c, fk)
      }.getOrElse(throw new IllegalArgumentException(
        "window verbs (sums/deltas/…) need an order clause"))
      val wspec = Window.partitionBy(groupItems.map(_.col): _*).orderBy(orderCols: _*)
      val items = parseItems(env.withWspec(wspec, Some(firstKey)))
      require(items.nonEmpty, "windowed select needs explicit select items")
      df = df.select(items.map(_.col): _*)
        .orderBy(groupItems.map(_.col) ++ orderCols: _*)
    } else {
      val items = parseItems(env)
      require(!(distinctSel && groupItems.nonEmpty),
        "select distinct cannot combine with group — the grouped result " +
        "is already one row per key")
      df =
        if (groupItems.nonEmpty) {
          // group items matching a select item (same source tokens, or the
          // select item is just the group alias) are auto-included by
          // groupBy().agg()
          val groupSrc = groupItems.map(_.srcToks).toSet
          val groupAliases = groupItems.map(_.alias).toSet
          val aggs = items.filterNot(i =>
            groupSrc.contains(i.srcToks) ||
            (i.srcToks.lengthCompare(1) == 0 && groupAliases.contains(i.srcToks.head)))
          require(aggs.nonEmpty, "grouped select needs at least one aggregate")
          val grouped = groupMode match {
            case "rollup" => df.rollup(groupItems.map(_.col): _*)
            case "cube"   => df.cube(groupItems.map(_.col): _*)
            // unaliased cols on BOTH sides (sets + grouping vararg);
            // aliases go on in the projection below
            case "sets"   => df.groupingSets(groupSetCols, groupItems.map(_.raw): _*)
            case _        => df.groupBy(groupItems.map(_.col): _*)
          }
          val agged = grouped.agg(aggs.head.col, aggs.tail.map(_.col): _*)
          // groupingSets output = grouping cols (in vararg order) then
          // aggregates; rename the key columns to their dialect aliases
          val named =
            if (groupMode == "sets")
              agged.toDF(groupItems.map(_.alias) ++ aggs.map(_.alias): _*)
            else agged
          // STANDARD-SQL EMPTY-INPUT GRAND TOTAL (r17, found by the
          // DuckDB program fuzz): a grouping-set family that includes
          // the empty set `()` must behave like a GLOBAL aggregate for
          // that set — on empty input the standard (and DuckDB, the t2
          // oracle; and Postgres) returns ONE row (null keys, count 0),
          // but Spark's Expand-based aggregation returns zero rows (no
          // input rows → no groups). Patch declaratively, with NO second
          // base-table scan: the grand row's VALUES are a global
          // aggregate over limit(0) (constant-cost — empty-input global
          // agg is exactly the standard's () semantics for any aggregate
          // expression), guarded by a left_anti join against limit(1) of
          // the FILTERED INPUT (the row survives only when the input is
          // empty). The input-side guard short-circuits at the first
          // matching row — the common, non-empty case costs one
          // LocalLimit(1) probe, never a rescan or a shuffle re-read (a
          // first cut guarded on limit(1) of the aggregate itself and
          // re-read the whole rollup exchange: +40% on q17/q40/q87).
          val emptySets = groupMode match {
            case "rollup" | "cube" => 1
            case "sets" => groupSetCols.count(_.isEmpty)
            case _ => 0
          }
          if (emptySets == 0) named
          else {
            val keyFields = named.schema.fields.take(groupItems.size)
            val emptyVals = df.limit(0).groupBy()
              .agg(aggs.head.col, aggs.tail.map(_.col): _*)
            val grandOne = emptyVals.select(
              (keyFields.toSeq.map(f => lit(null).cast(f.dataType).as(f.name)) ++
               emptyVals.columns.toSeq.map(col)): _*)
              .toDF(named.columns.toSeq: _*)
            // `sets` may enumerate `()` more than once: one row each
            val grand = Seq.fill(emptySets)(grandOne).reduce(_ union _)
            val guard = df.limit(1).select(lit(1).as("__nonempty"))
            named.union(grand.join(guard, lit(true), "left_anti"))
          }
        }
        else if (items.nonEmpty) df.select(items.map(_.col): _*)
        else df
      if (distinctSel) df = df.dropDuplicates()
      segParser("order").foreach { op =>
        df = df.orderBy(parseOrderCols(op, env, Some(df.schema)): _*)
        finish(op, "order")
      }
    }
    segParser("limit").foreach { lp =>
      val t = lp.pop()
      val n =
        if (t.matches("""\d+""")) t.toInt
        else evalScalar(spark, resolveIdent(t, env)) match {
          case num: Number => num.intValue()
          case other => throw new IllegalArgumentException(s"limit needs a number, got $other")
        }
      finish(lp, "limit")
      df = df.limit(n)
    }
    df
  }

  /** `order a, -b` — q-style leading minus for descending. An `order
    * kerf(c)` / `-kerf(c)` item opts INTO the reference's total order
    * for that key (grade.cc:15–26: NaN compares SMALLEST and coincides
    * with null — Spark natively sorts NaN largest, above every number):
    * lowered to the [[graft.functions.KerfOrdering]] sort-key transform.
    * Engine default stays Spark/ANSI; Kerf-mode is per-column opt-in —
    * OR session-wide via `set order kerf`, under which every BARE key
    * that resolves to a float/double column of `frame` (the frame the
    * sort actually runs over — post-aggregation for a grouped select,
    * so computed aliases are seen too) gets the same lowering. Non-float
    * keys and full expressions are untouched in either mode: the Kerf
    * total order only redefines FLOAT comparison. */
  private def parseOrderCols(p: P, env: Env = emptyEnv,
                             frame: Option[StructType] = None): Seq[Column] = {
    val kerfMode = modeOf("order") == "kerf"
    // dtype of a bare key: the ordered frame first (post-aggregation
    // aliases), then the FROM schema (a sort key projected AWAY by the
    // select list still resolves there — Spark's missing-reference
    // resolution re-adds it under the Sort)
    def resolveKey(name: String): Option[org.apache.spark.sql.types.StructField] =
      (frame.toSeq ++ env.schema.toSeq).iterator
        .flatMap(_.fields).find(_.name.equalsIgnoreCase(name))
    def floatKey(name: String): Boolean = {
      val f = resolveKey(name)
      // under kerf mode an UNRESOLVABLE bare key must fail LOUDLY here:
      // silently keeping ANSI NaN-largest for a key Spark later resolves
      // to a double column would be a silent semantic divergence — the
      // opposite failure discipline from the set/arity errors. (Resolved
      // non-float keys stay ANSI by design: the Kerf total order only
      // redefines FLOAT comparison.)
      require(f.isDefined,
        s"order key '$name' resolves in neither the ordered frame nor the " +
        s"FROM schema — under `set order kerf` the float/non-float decision " +
        s"cannot be made; qualify the key or order by an explicit kerf($name)")
      f.exists(x => x.dataType == DoubleType || x.dataType == FloatType)
    }
    val cols = scala.collection.mutable.ArrayBuffer[Column]()
    var more = true
    while (more) {
      val desc = p.peekIs("-") && { p.pop(); true }
      if (p.peekIs("kerf") && p.peek2.contains("(")) {
        p.pop(); p.expect("(")
        val c = col(p.pop())
        p.expect(")")
        cols += (if (desc) graft.functions.KerfOrdering.nanSmallestDesc(c)
                 else graft.functions.KerfOrdering.nanSmallestAsc(c))
      } else {
        // bare name (next token is `,` or clause end) stays LATE-BOUND —
        // it may be a post-aggregation alias the env's schema can't see;
        // anything else is a full expression (`order randu64(seed, key)`
        // is the exact-n sampling idiom — TakeOrderedAndProject, no sort)
        val bare = p.peek2.forall(_ == ",")
        if (bare) {
          val name = p.pop()
          val c = col(name)
          cols +=
            (if (kerfMode && floatKey(name))
               (if (desc) graft.functions.KerfOrdering.nanSmallestDesc(c)
                else graft.functions.KerfOrdering.nanSmallestAsc(c))
             else if (desc) c.desc else c.asc)
        } else {
          val c = parseExpr(p, env).col
          cols += (if (desc) c.desc else c.asc)
        }
      }
      if (p.peekIs(",")) p.pop() else more = false
    }
    cols.toSeq
  }

  private def runUpdate(spark: SparkSession, p: P,
                        programVars: Map[String, T] = Map.empty,
                        programFuncs: Map[String, FVal] = Map.empty): DataFrame = {
    val df = spark.table(p.pop())
    // same environment as select expressions: program `def`s resolve,
    // and schema inference samples THIS session's views
    val env = new Env(Some(df.schema), programVars, programFuncs,
      session = Some(spark))
    p.expect("set")
    val sets = scala.collection.mutable.ArrayBuffer[(String, Column)]()
    var more = true
    while (more) {
      val name = p.pop(); p.expect("="); sets += name -> parseExpr(p, env).col
      if (p.peekIs(",")) p.pop() else more = false
    }
    val pred = if (p.peekIs("where")) { p.pop(); parseExpr(p, env).col } else lit(true)
    require(p.done, s"trailing tokens in update: ${p.toks.mkString(" ")}")
    graft.ops.TableOps.update(df, pred, sets.toSeq: _*)
  }

  private def runDelete(spark: SparkSession, p: P,
                        programVars: Map[String, T] = Map.empty,
                        programFuncs: Map[String, FVal] = Map.empty): DataFrame = {
    // q's COLUMN deletion: `delete c1, c2 from t` drops the named
    // columns (presented.cc:327–336 cow_delete on the column map).
    // `delete from t [where p]` stays the row form. Unknown columns
    // fail loudly; dropping every column is rejected (a table with no
    // columns is not a table).
    if (!p.peekIs("from")) {
      val cols = scala.collection.mutable.ArrayBuffer[String](p.pop())
      while (p.peekIs(",")) { p.pop(); cols += p.pop() }
      p.expect("from")
      val df = spark.table(p.pop())
      val have = df.columns.map(_.toLowerCase).toSet
      val missing = cols.filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty,
        s"delete: no such column(s) ${missing.mkString(", ")} — table has " +
        df.columns.mkString(", "))
      require(cols.size < df.columns.length,
        "delete: cannot drop every column")
      require(p.done, s"trailing tokens in delete: ${p.toks.mkString(" ")}")
      return df.drop(cols.toSeq: _*)
    }
    p.expect("from")
    val df = spark.table(p.pop())
    val env = new Env(Some(df.schema), programVars, programFuncs,
      session = Some(spark))
    val pred = if (p.peekIs("where")) { p.pop(); parseExpr(p, env).col } else lit(true)
    require(p.done, s"trailing tokens in delete: ${p.toks.mkString(" ")}")
    graft.ops.TableOps.delete(df, pred)
  }

  /** `rexec 'host:port' 'program'` — Kerf IPC from the dialect
    * (reference: the REPLICATED_SOCKET_THINGS/MESSAGE surface,
    * enums.h:264,278): the program string ships to the site, evaluates
    * on ITS Spark session against ITS tables, and the result VALUE
    * comes back as a LOCAL frame (REPL-sized by the server's
    * maxEvalRows contract; corpus-scale reads belong on the
    * `remote://` table protocol, where projection/filter/aggregate
    * push down). `''` escapes a quote inside the shipped program.
    *
    * The scatter form calls its sites through [[graft.ops.Par]]: the
    * first failing site's error surfaces once every call has ended. A
    * call has no overall deadline; [[graft.sources.RemoteEval]]'s socket
    * timeouts bound it (5 s to connect, 600 s of silence on a read). */
  private def runRexec(spark: SparkSession, p: P): DataFrame = {
    // `rexec ['s1', 's2'] 'program'` — SCATTER-GATHER over a folio of
    // sites (presented.h:427–430 "executes queries remotely"): the same
    // program ships to every site CONCURRENTLY, each evaluates against
    // its own tables, and the results union by name (schemas must
    // match exactly — a drifted site is a loud error, not a null-fill;
    // per-site partial aggregates re-aggregate in the next statement,
    // the classic two-phase map-reduce from the text surface).
    if (p.peekIs("[")) {
      p.pop()
      val sites = scala.collection.mutable.ArrayBuffer[String](unq(p.pop()))
      while (p.peekIs(",")) { p.pop(); sites += unq(p.pop()) }
      p.expect("]")
      val progTok = p.pop()
      require(progTok.startsWith("'"),
        "rexec: the program must be a quoted string ('' escapes a quote)")
      val prog = unq(progTok)
      val dfs = graft.ops.Par.all(sites.toSeq.map(site =>
        () => graft.sources.RemoteEval.call(spark, site, prog)): _*)
      val first = dfs.head
      dfs.zip(sites).foreach { case (d, site) =>
        require(d.schema == first.schema,
          s"rexec: site '$site' answered with a different schema " +
          s"(${d.schema.toDDL}) than '${sites.head}' (${first.schema.toDDL})")
      }
      return dfs.reduce(_ unionByName _)
    }
    val site = unq(p.pop())
    val progTok = p.pop()
    require(progTok.startsWith("'"),
      "rexec: the program must be a quoted string ('' escapes a quote)")
    graft.sources.RemoteEval.call(spark, site, unq(progTok))
  }

  /** `meta t` — the REPL's schema window (the reference's table
    * renderer prints column names and types, presented.cc:62–246):
    * one row per column in table order — (col, type, nullable) — with
    * Spark's simpleString type names. A closed-form frame, no scan. */
  private def runMeta(spark: SparkSession, p: P): DataFrame = {
    val df = spark.table(p.pop())
    import spark.implicits._
    df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("col", "type", "nullable")
  }

  /** Quoted-path operand of the `>>` file verb. */
  private def parseQuotedPath(p: P, verb: String): String = {
    val t = p.pop()
    require(t.startsWith("'") && t.endsWith("'") && t.length > 2,
      s"$verb needs a quoted path, got $t")
    unq(t)
  }

  // ------------------------------------------------------- pipeline verbs
  // One clause grammar for every table-valued verb (the reference's
  // parser likewise scoops SQL groups at one fixed keyword set,
  // parser.h:541–567): an entry of `pipelineVerbs` names the verb, its
  // leading operand and its ordered clauses; `parseVerb` reads and
  // checks a whole statement against the entry before the lowering
  // touches a table or a path.

  /** What a clause keyword takes; `what` is the expectation an error
    * message names. */
  private sealed abstract class Kind(val what: String)
  private case object Flag extends Kind("no operand")
  private case object Ident extends Kind("an identifier")
  private case object Table extends Kind("a table name")
  private case class Idents(min: Int = 1, max: Int = Int.MaxValue) extends Kind(
    if (min == max) s"$min comma-separated names"
    else if (min > 1) s"at least $min comma-separated names"
    else "a comma-separated name list")
  /** `n` juxtaposed integers, each in lo..hi (read as Long). */
  private case class Bounded(lo: Long, hi: Long, n: Int = 1) extends Kind(
    (if (n == 1) "an int" else s"$n ints") + s" in $lo..$hi")
  private case object Num extends Kind("a number like 0.7")
  private case object Path extends Kind("a quoted path")
  private case object Hex extends Kind("a quoted lowercase hex ceiling like '29'")
  private case object Lits extends Kind(
    "a parenthesised list of quoted strings or numbers")
  private case object ParenNames extends Kind("a parenthesised column list")
  /** The rest of the statement, lowered by [[parseOrderCols]] against
    * the verb's table. */
  private case object OrderCols extends Kind("order columns")
  private case class Call(fns: Seq[String]) extends Kind(
    s"${fns.mkString("/")} of one column, like ${fns.head}(c)")

  private val PosInt = Bounded(1, Int.MaxValue)
  private val NatInt = Bounded(0, Int.MaxValue)
  private val PosLong = Bounded(1, Long.MaxValue)

  /** One clause: `kw` and its operand. A `required` clause must appear
    * whenever the clause it `needs` (if any) does; an absent optional
    * one reads as `default`. */
  private case class Clause(kw: String, kind: Kind, required: Boolean = false,
                            default: Any = null, needs: String = "")
  private def req(kw: String, kind: Kind, needs: String = "") =
    Clause(kw, kind, required = true, needs = needs)
  private def opt(kw: String, kind: Kind, default: Any = null, needs: String = "") =
    Clause(kw, kind, default = default, needs = needs)
  private def table = Clause("table", Table)
  private def path = Clause("path", Path)
  private def byOn = Seq(req("by", Ident), req("on", Ident))

  /** A verb: its leading operand, its clauses in statement order, the
    * clause pairs that exclude each other (`a -> Seq(b, c)`: `a` with
    * `b` or `c` is an error), and its lowering. */
  private case class Verb(name: String, head: Clause, clauses: Seq[Clause] = Nil,
                          excl: Seq[(String, Seq[String])] = Nil)(
                          val lower: (SparkSession, Args) => DataFrame) {
    /** Verb names are NOT reserved words (the reference reserves only
      * control/number/SQL heads, lexer.h:100-105), so `cap(99)` or
      * `sample + 1` must stay expressions over user names: a statement
      * is this verb only when its head shape holds — a quoted path, or
      * an identifier followed by the first clause's keyword (`,` for a
      * table list; end of statement too when that clause is optional). */
    def matches(toks: List[String]): Boolean = toks.lift(1).exists { t1 =>
      val t2 = toks.lift(2)
      head.kind match {
        case Path => t1.startsWith("'")
        case Idents(_, _) => isIdent(t1) && t2.contains(",")
        case _ => isIdent(t1) && (clauses.headOption match {
          case Some(c) if c.required => t2.exists(_.equalsIgnoreCase(c.kw))
          case Some(c) => t2.forall(_.equalsIgnoreCase(c.kw))
          case None => t2.isEmpty
        })
      }
    }
    def run(spark: SparkSession, toks: List[String]): DataFrame =
      lower(spark, parseVerb(this, toks))
  }

  /** A parsed statement's operands by clause keyword (the leading one
    * under its role name: `table`, `path` or `tables`); absent optional
    * clauses read as their defaults. */
  private final class Args(verb: Verb, vals: Map[String, Any]) {
    def has(kw: String): Boolean = vals.contains(kw)
    def apply[A](kw: String): A =
      vals.getOrElse(kw, verb.clauses.find(_.kw == kw).map(_.default).orNull)
        .asInstanceOf[A]
    def get[A](kw: String): Option[A] = vals.get(kw).map(_.asInstanceOf[A])
    def str(kw: String): String = apply[String](kw)
    def int(kw: String): Int = apply[Number](kw).intValue
    def long(kw: String): Long = apply[Number](kw).longValue
    def num(kw: String): Double = apply[Number](kw).doubleValue
    def names(kw: String): Seq[String] = get[Seq[String]](kw).getOrElse(Nil)
  }

  private def isIdent(t: String): Boolean = t.matches("[A-Za-z_][A-Za-z0-9_.]*")

  /** Read one operand of kind `c.kind`; a miss names the verb, the
    * clause and the expected operand. */
  private def operand(v: Verb, c: Clause, p: P): Any = {
    def bad(): Nothing = throw new IllegalArgumentException(
      s"${v.name}: `${c.kw}` expects ${c.kind.what}, got " +
      p.peek.fold("end of statement")(t => s"'$t'"))
    def take(ok: String => Boolean): String = if (p.peek.exists(ok)) p.pop() else bad()
    def quoted(t: String) = t.length >= 2 && t.startsWith("'") && t.endsWith("'")
    def list[A](max: Int)(item: => A): Seq[A] = {
      val out = scala.collection.mutable.ArrayBuffer[A](item)
      while (out.length < max && p.peekIs(",")) { p.pop(); out += item }
      out.toSeq
    }
    def paren[A](item: => A): Seq[A] = {
      take(_ == "("); val xs = list(Int.MaxValue)(item); take(_ == ")"); xs
    }
    c.kind match {
      case Flag => ()
      case Ident | Table => take(isIdent)
      case Idents(min, max) =>
        val xs = list(max)(take(isIdent))
        if (xs.length < min) bad()
        xs
      case Bounded(lo, hi, n) =>
        val xs = Seq.fill(n)(take(t => t.forall(_.isDigit) &&
          t.toLongOption.exists(x => x >= lo && x <= hi)).toLong)
        if (n == 1) xs.head else xs
      case Num => take(t => t.forall(ch => ch.isDigit || ch == '.') &&
        t.toDoubleOption.isDefined).toDouble
      case Path => unq(take(t => quoted(t) && t.length > 2))
      case Hex => unq(take(t => quoted(t) && t.length > 2 &&
        unq(t).forall(ch => ch.isDigit || ('a' <= ch && ch <= 'f'))))
      case Lits => paren {
        val t = take(t => quoted(t) || t.matches("""\d+(\.\d+)?"""))
        // typed Any so a whole number stays a Long, not widened to Double
        val v: Any = if (quoted(t)) unq(t) else if (t.contains('.')) t.toDouble else t.toLong
        v
      }
      case ParenNames => paren(take(isIdent))
      case OrderCols =>
        if (p.done) bad()
        val rest = p.toks; p.toks = Nil; rest
      case Call(fns) =>
        val fn = take(t => fns.contains(t.toLowerCase)).toLowerCase
        take(_ == "("); val arg = take(isIdent); take(_ == ")")
        (fn, arg)
    }
  }

  /** Parse and check a whole statement (verb first) against its entry:
    * clauses in entry order, each at most once; a required one that is
    * skipped, a clause whose `needs` is absent, an excluded pair, or a
    * token no remaining clause starts is an IllegalArgumentException
    * naming the verb and the clause. */
  private def parseVerb(v: Verb, toks: List[String]): Args = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"${v.name}: $msg")
    val p = new P(toks.tail)
    val vals = scala.collection.mutable.Map[String, Any](v.head.kw -> operand(v, v.head, p))
    def missing(from: Int, until: Int): Unit =
      v.clauses.slice(from, until)
        .find(c => c.required && (c.needs.isEmpty || vals.contains(c.needs)))
        .foreach(c => fail(s"missing `${c.kw}` clause (${c.kw} takes ${c.kind.what})"))
    var next = 0
    while (!p.done) {
      val j = v.clauses.indexWhere(c => p.peekIs(c.kw), next)
      if (j < 0) throw new IllegalArgumentException(
        s"trailing tokens in ${v.name}: ${p.toks.mkString(" ")}")
      val c = v.clauses(j)
      if (c.needs.nonEmpty && !vals.contains(c.needs))
        fail(s"`${c.kw}` applies only after `${c.needs}`")
      missing(next, j)
      p.pop()
      vals(c.kw) = operand(v, c, p)
      next = j + 1
    }
    missing(next, v.clauses.length)
    for ((a, bs) <- v.excl; b <- bs if vals.contains(a) && vals.contains(b))
      fail(s"`$a` and `$b` are alternatives — pick one")
    new Args(v, vals.toMap)
  }

  /** `order c1, c2 …` over a verb's result, when given. */
  private def ordered(df: DataFrame, a: Args): DataFrame =
    if (a.has("order")) df.orderBy(a.names("order").map(col): _*) else df

  /** The table-valued verbs. Every entry assigns like a select
    * (`r: <verb> …` registers the result as a view). */
  private val pipelineVerbs: Seq[Verb] = Seq(
    /** `dedup t by id on text [order …]` → [[graft.llm.Dedup.exact]]:
      * (text_key, keep_id, group_size) per distinct normalized text,
      * min-id witness. Same Catalyst trees as the Column API — the
      * dialect adds parsing, not a second engine. */
    Verb("dedup", table, byOn :+ opt("order", Idents())) { (s, a) =>
      ordered(graft.llm.Dedup.exact(s.table(a.str("table")), a.str("by"), a.str("on")), a)
    },
    /** `neardup t by id on text [within τ] [keep best score] [order …]`
      * → [[graft.llm.Dedup.minhashPairs]]: MinHash+LSH candidate pairs
      * verified at Jaccard ≥ τ (`within` mirrors the as-of tolerance
      * verb). The metric alternatives: `edit N [prefix P]` = blocked
      * Levenshtein ([[graft.llm.Dedup.fuzzyPairs]], the typo-tolerant
      * short-string form, q148); `frames` = video perceptual near-dup
      * over a multi-frame binary column (q149); `envelope` = its audio
      * sibling, volume-invariant window-envelope hashes over PCM (q159)
      * — the media metrics' set-Jaccard default is 0.9. `keep best
      * <col>` feeds the pair graph to
      * [[graft.llm.Dedup.keepBestPerCluster]]: the surviving docs
      * (max-score witness per cluster, ties → min id). The PERSISTED
      * faces (incremental dedup, q197's engine): `into 'path'` appends
      * the batch to the LSH index and returns a (path, docs) receipt;
      * `against 'path' [within τ]` probes the stored corpus — (id_a
      * indexed, id_b new, jaccard) pairs. */
    Verb("neardup", table, byOn ++ Seq(opt("into", Path), opt("against", Path),
        opt("frames", Flag), opt("envelope", Flag), opt("edit", PosInt),
        opt("prefix", PosInt, 8, needs = "edit"), opt("within", Num, 0.7),
        opt("keep", Flag), req("best", Ident, needs = "keep"), opt("order", Idents())),
      excl = Seq(
        "into" -> Seq("against", "frames", "envelope", "edit", "within", "keep", "order"),
        "against" -> Seq("frames", "envelope", "edit", "keep", "order"),
        "frames" -> Seq("envelope", "edit"), "envelope" -> Seq("edit"),
        "edit" -> Seq("within"))) { (s, a) =>
      val (df, id, text) = (s.table(a.str("table")), a.str("by"), a.str("on"))
      if (a.has("into")) {
        val bdir = graft.llm.Dedup.indexAppend(df, id, text, a.str("into"))
        import s.implicits._
        // receipt count from the WRITTEN batch's parquet footers (a
        // metadata count), never a recompute of the source plan; an
        // empty batch manifests no dir and receipts 0
        val n = if (bdir.isEmpty) 0L else s.read.parquet(s"$bdir/sets").count()
        Seq((a.str("into"), n)).toDF("path", "docs")
      } else if (a.has("against"))
        graft.llm.Dedup.indexProbe(df, id, text, a.str("against"), a.num("within"))
      else {
        val tau = if ((a.has("frames") || a.has("envelope")) && !a.has("within")) 0.9
                  else a.num("within")
        val pairs =
          if (a.has("edit")) graft.llm.Dedup.fuzzyPairs(df, id, text,
            maxDist = a.int("edit"), prefixLen = a.int("prefix"))
          else if (a.has("frames")) graft.llm.Multimodal.videoPerceptualPairs(
            df, id, text, jaccardThreshold = tau)
          else if (a.has("envelope")) graft.llm.Multimodal.audioPerceptualPairs(
            df, id, text, jaccardThreshold = tau)
          else graft.llm.Dedup.minhashPairs(df, id, text, jaccardThreshold = tau)
        ordered(if (a.has("keep")) graft.llm.Dedup.keepBestPerCluster(df, id, a.str("best"), pairs)
                else pairs, a)
      }
    },
    /** `semdedup t by id on vec [within τ] [clusters k] [keep [best s]]
      * [order …]` → [[graft.llm.Similarity.semDedupVictims]] (SemDeDup,
      * Abbas et al. 2023): k-means the embedding space, exact cosine
      * within clusters only, drop anything with a lower-id cluster-mate
      * at cos ≥ τ (the paper's near-1 posture). Returns the victim list
      * (dropped_id, witness_id, cos); with `keep` the SURVIVING rows
      * under min-id pruning; with `keep best <score>` the quality-aware
      * survivors ([[graft.llm.Similarity.semDedupKeepBest]], the same
      * election as `neardup … keep best`). `against 'path' [within τ]`
      * is the INCREMENTAL face (q198's engine): probe the persisted IVF
      * index for the nearest STORED neighbor; ≥ τ (default 0.9 there)
      * = semantic dup of it. */
    Verb("semdedup", table, byOn ++ Seq(opt("against", Path), opt("within", Num, 0.95),
        opt("clusters", PosInt, 16), opt("keep", Flag), opt("best", Ident, needs = "keep"),
        opt("order", Idents())),
      excl = Seq("against" -> Seq("clusters", "keep", "order"))) { (s, a) =>
      val (df, id, vec) = (s.table(a.str("table")), a.str("by"), a.str("on"))
      val (tau, k) = (a.num("within"), a.int("clusters"))
      if (a.has("against"))
        graft.llm.Similarity.semDedupProbe(s, a.str("against"), df,
          a.get[Double]("within").getOrElse(0.9), idCol = id, vecCol = vec)
      else ordered(
        if (a.has("best")) graft.llm.Similarity.semDedupKeepBest(df, a.str("best"), tau,
          nClusters = k, idCol = id, vecCol = vec)
        else if (a.has("keep")) graft.llm.Similarity.semDedup(df, tau,
          nClusters = k, idCol = id, vecCol = vec)
        else graft.llm.Similarity.semDedupVictims(df, tau,
          nClusters = k, idCol = id, vecCol = vec), a)
    },
    /** `chunk t by id on text size 64 [overlap 16]` →
      * [[graft.llm.TextOps.chunk]]: fixed-size token windows advancing by
      * size − overlap (the embedding-prep op; trailing chunk short, short
      * docs one chunk). */
    Verb("chunk", table, byOn ++ Seq(req("size", NatInt), opt("overlap", NatInt, 0))) {
      (s, a) => graft.llm.TextOps.chunk(s.table(a.str("table")), a.str("by"), a.str("on"),
        a.int("size"), a.int("overlap"))
    },
    /** `lmscore t by id on text [using model]` →
      * [[graft.llm.TextOps.unigramStats]] (self-census) or
      * [[graft.llm.TextOps.unigramScore]] against a census TABLE
      * `(tok, cnt)` — the deployment split: train the model once, score
      * any corpus (or stream) against it. */
    Verb("lmscore", table, byOn :+ opt("using", Table)) { (s, a) =>
      val df = s.table(a.str("table"))
      a.get[String]("using").map(s.table(_)) match {
        case Some(census) =>
          require(census.columns.toSet == Set("tok", "cnt"),
            s"lmscore … using needs a (tok, cnt) census table, got ${census.columns.mkString(", ")}")
          graft.llm.TextOps.unigramScore(df, census, a.str("by"), a.str("on"))
        case None => graft.llm.TextOps.unigramStats(df, a.str("by"), a.str("on"))
      }
    },
    /** `bpe t by id on text using merges` → [[graft.llm.TextOps.bpeApply]]
      * against a published `(rank, left, right)` merge table — the
      * deployment split, like `lmscore … using census`. The merge table
      * is a bounded model input (≤10000 rules, the classifier-weights
      * discipline). */
    Verb("bpe", table, byOn :+ req("using", Table)) { (s, a) =>
      val mt = s.table(a.str("using"))
      require(Seq("rank", "left", "right").forall(mt.columns.contains),
        s"bpe … using needs a (rank, left, right) merge table, " +
        s"got ${mt.columns.mkString(", ")}")
      val rows = mt.select(col("rank").cast("long"), col("left"), col("right"))
        .orderBy("rank").limit(10001).collect()
      require(rows.nonEmpty && rows.length <= 10000,
        s"bpe merge table must have 1..10000 rows, got ${rows.length}")
      graft.llm.TextOps.bpeApply(s.table(a.str("table")), a.str("by"), a.str("on"),
        rows.map(r => (r.getString(1), r.getString(2))).toSeq)
    },
    /** `bpetrain t on text at 20 [min 2]` → [[graft.llm.TextOps.bpeTrain]]:
      * learn the merge table from the corpus (one corpus pass for the
      * word census, then vocab-bounded rounds) — bpetrain on the
      * reference corpus, `bpe … using` everywhere else. */
    Verb("bpetrain", table, Seq(req("on", Ident), req("at", Bounded(1, 10000)),
        opt("min", PosLong, 2L))) { (s, a) =>
      graft.llm.TextOps.bpeTrain(s.table(a.str("table")), a.str("on"), a.int("at"), a.long("min"))
    },
    /** `census t by id on text` → [[graft.llm.TextOps.unigramCensus]]:
      * the corpus-wide `(tok, cnt)` unigram model `lmscore … using`
      * scores against — census on the reference corpus, lmscore at
      * ingest everywhere else. */
    Verb("census", table, byOn) { (s, a) =>
      graft.llm.TextOps.unigramCensus(s.table(a.str("table")), a.str("by"), a.str("on"))
    },
    /** `drift a against b [top K]` → [[graft.llm.TextOps.censusDrift]]:
      * total-variation distance + top drifted tokens between two census
      * tables — the crawl-over-crawl monitor, fed by `census`. */
    Verb("drift", table, Seq(req("against", Table), opt("top", PosInt, 10))) { (s, a) =>
      def censusTable(name: String): DataFrame = {
        val t = s.table(name)
        require(t.columns.toSet == Set("tok", "cnt"),
          s"drift needs (tok, cnt) census tables, got ${t.columns.mkString(", ")} in $name")
        t
      }
      graft.llm.TextOps.censusDrift(censusTable(a.str("table")),
        censusTable(a.str("against")), a.int("top"))
    },
    /** `classify t by id on text [using weights] [dim N] [scale S]` →
      * [[graft.llm.TextOps.hashedLinearScore]], the learned linear
      * quality filter. `using` takes a `(bucket, w)` INTEGER-weight table
      * (the offline-trained model, quantized to the 1/scale grid;
      * unlisted buckets weigh 0); without it the deterministic synthetic
      * grid stands in, whose own modulus is the default scale. The
      * weight table is vocabulary-bounded model state (dim entries
      * max), so the collect is the same bounded-model-state contract as
      * the IVF centroid read. */
    Verb("classify", table, byOn ++ Seq(opt("using", Table),
        opt("dim", Bounded(1, 1000000), 1024), opt("scale", PosLong, 1997L))) { (s, a) =>
      val dim = a.int("dim")
      val weights = a.get[String]("using").map(s.table(_)) match {
        case Some(t) =>
          require(t.columns.toSet == Set("bucket", "w"),
            s"classify … using needs a (bucket, w) weight table, got ${t.columns.mkString(", ")}")
          val arr = new Array[Long](dim)
          // bound BEFORE collecting (the BPE merge-table discipline): a
          // valid model table has at most dim rows, so limit(dim+1) caps
          // the driver materialization — a malformed million-row "weight
          // table" errors loudly instead of OOMing the driver
          val rows = t.limit(dim + 1).collect()
          require(rows.length <= dim,
            s"classify … using: weight table has more than dim=$dim rows — " +
            "not a (bucket, w) model table (each bucket appears at most once)")
          rows.foreach { r =>
            val b = r.getAs[Number]("bucket").longValue()
            require(b >= 0 && b < dim, s"weight bucket $b outside [0, $dim)")
            arr(b.toInt) = r.getAs[Number]("w").longValue()
          }
          arr
        case None => graft.llm.TextOps.syntheticWeights(dim)
      }
      graft.llm.TextOps.hashedLinearScore(s.table(a.str("table")), a.str("by"), a.str("on"),
        weights, a.long("scale"), dim)
    },
    /** `classifytrain t by id on text label lbl [dim N] [epochs E]
      * [scale S]` → [[graft.llm.TextOps.perceptronTrain]]: learn the
      * (bucket, w) weight table `classify … using` deploys — the
      * classifier's train/deploy loop from text, like bpetrain → bpe. */
    Verb("classifytrain", table, byOn ++ Seq(req("label", Ident),
        opt("dim", Bounded(1, 1000000), 1024), opt("epochs", Bounded(1, 100), 5),
        opt("scale", PosLong, 1997L))) { (s, a) =>
      graft.llm.TextOps.perceptronTrain(s.table(a.str("table")), a.str("by"), a.str("on"),
        a.str("label"), a.int("dim"), a.int("epochs"), a.long("scale"))
    },
    /** `index t by id on vec at 'path' [lists N] [pq M K] [half]` → the
      * persisted-ANN writers: `lists` alone = IVF
      * ([[graft.llm.Similarity.writeIvfIndex]]), `pq M K` alone = the PQ
      * codes-only store ([[graft.llm.Similarity.writePqIndex]]), both =
      * the composed IVF-PQ ([[graft.llm.Similarity.writeIvfPqIndex]]);
      * `half` stores IVF list vectors on the fp16 tier (FLOAT1_ARRAY,
      * enums.h:196 — PQ codes are already sub-byte). `append` is the
      * INCREMENTAL face: assign the batch against the STORED centroid
      * model and append into the live version's list dirs (retrain on a
      * cadence with the build form, append between — the q133 posture).
      * Returns the stored probe-ready layout read back. */
    Verb("index", table, byOn ++ Seq(req("at", Path), opt("append", Flag),
        opt("lists", PosInt), opt("pq", Bounded(1, Int.MaxValue, 2)),
        opt("half", Flag, needs = "lists")),
      excl = Seq("append" -> Seq("lists", "pq"), "pq" -> Seq("half"))) { (s, a) =>
      val (path, id, vec) = (a.str("at"), a.str("by"), a.str("on"))
      def df = s.table(a.str("table"))
      val layout = if (a.has("append")) {
        graft.llm.Similarity.appendToIvfIndex(df, path, id, vec); "lists"
      } else (a.get[Long]("lists").map(_.toInt), a.get[Seq[Long]]("pq").map(_.map(_.toInt))) match {
        case (Some(nl), None) =>
          graft.llm.Similarity.writeIvfIndex(df, path, nl, idCol = id, vecCol = vec,
            halfPrecision = a.has("half")); "lists"
        case (Some(nl), Some(Seq(m, ksub))) =>
          graft.llm.Similarity.writeIvfPqIndex(df, path, nl, m, ksub, idCol = id, vecCol = vec)
          "codes"
        case (None, Some(Seq(m, ksub))) =>
          graft.llm.Similarity.writePqIndex(df, path, m, ksub, idCol = id, vecCol = vec)
          "codes"
        case _ => throw new IllegalArgumentException(
          "index needs a layout: `lists N` (IVF), `pq M K` (codes-only), or both (IVF-PQ)")
      }
      s.read.parquet(s"${graft.llm.Similarity.indexRoot(path)}/$layout")
    },
    /** `probe 'path' with q by id on vec top K [probes N] [rerank R]
      * [using originals]` → the persisted-index probes; the index KIND is
      * read from the stored model files, and the PQ forms require
      * `using <table>` for the exact re-rank join. */
    Verb("probe", path, Seq(req("with", Table), req("by", Ident), req("on", Ident),
        req("top", PosInt), opt("probes", PosInt, 4), opt("rerank", PosInt, 32),
        opt("using", Table))) { (s, a) =>
      val (path, queries, id, vec) = (a.str("path"), s.table(a.str("with")), a.str("by"), a.str("on"))
      val (k, nProbe, rerank) = (a.int("top"), a.int("probes"), a.int("rerank"))
      def originals(kind: String): DataFrame = a.get[String]("using").map(s.table(_))
        .getOrElse(throw new IllegalArgumentException(
          s"probe of a$kind index needs `using <originals>` for the exact re-rank"))
      // kind inference reads the LIVE version (versioned indexes publish
      // under the Folio _CURRENT protocol; legacy flat layouts resolve to
      // the path itself), so a mid-rewrite crash can't change the kind
      val root = graft.llm.Similarity.indexRoot(path)
      (new java.io.File(root, "centroids.json").isFile,
       new java.io.File(root, "codebooks.json").isFile) match {
        case (true, false) =>
          graft.llm.Similarity.ivfTopKIndexed(s, path, queries, k, nProbe, id, vec)
        case (false, true) => graft.llm.Similarity.pqTopKIndexed(s, path, queries,
          originals(" PQ"), k, rerank, id, vec)
        case (true, true) => graft.llm.Similarity.ivfPqTopKIndexed(s, path, queries,
          originals("n IVF-PQ"), k, nProbe, rerank, id, vec)
        case (false, false) => throw new IllegalArgumentException(s"no index at $path")
      }
    },
    /** `sample t by key at '29'` → [[graft.llm.Pipeline.hashSample]]:
      * the deterministic md5-prefix Bernoulli cut (key column cast to
      * string; the quoted hex ceiling IS the rate — '29' ≈ 16%). Same
      * engine-portable, partition-invariant contract as the q64 API
      * path; map-only, the filter pushes into the scan. */
    Verb("sample", table, Seq(req("by", Ident), req("at", Hex))) { (s, a) =>
      graft.llm.Pipeline.hashSample(s.table(a.str("table")), col(a.str("by")).cast("string"),
        a.str("at"))
    },
    /** `shard t by key into 8` → [[graft.llm.Pipeline.shardAssignment]]:
      * the deterministic corpus shuffle — shard + in-shard rank as pure
      * md5 functions of the key, replayable on any cluster shape. */
    Verb("shard", table, Seq(req("by", Ident), req("into", PosInt))) { (s, a) =>
      graft.llm.Pipeline.shardAssignment(s.table(a.str("table")),
        col(a.str("by")).cast("string"), a.int("into"))
    },
    /** `cap t by strata at 40 on key` → [[graft.llm.Pipeline.capPerStratum]]:
      * the absolute per-stratum ceiling (≤ N rows per stratum, the rows
      * that sort first by md5(key) — deterministic, engine-portable). */
    Verb("cap", table, Seq(req("by", Ident), req("at", PosInt), req("on", Ident))) { (s, a) =>
      graft.llm.Pipeline.capPerStratum(s.table(a.str("table")), col(a.str("by")),
        col(a.str("on")).cast("string"), a.int("at"))
    },
    /** `top t by k1[, k2] at 3 order c1[, -c2, …]` — top-N rows per
      * group under an explicit order (q's `N # select … by sym` sublist
      * idiom; `cap`'s score-ordered sibling — cap ranks by md5 for an
      * unbiased ceiling, top ranks by the caller's columns). Lowers to
      * row_number over one window + filter, which Spark rewrites to
      * WindowGroupLimit PARTIAL limits before the shuffle — each
      * partition forwards at most N rows per key, the only top-k shape
      * that survives 100 TB. Give the order a total tiebreak (trailing
      * unique column) for deterministic output. */
    Verb("top", table, Seq(req("by", Idents()), req("at", PosInt),
        req("order", OrderCols))) { (s, a) =>
      val df = s.table(a.str("table"))
      val op = new P(a[List[String]]("order"))
      val cols = parseOrderCols(op, new Env(Some(df.schema), Map.empty))
      require(op.done, s"trailing tokens in top: ${op.toks.mkString(" ")}")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(a.names("by").map(col): _*).orderBy(cols: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= a.int("at")).drop("__rn")
    },
    /** `compact 'path' [by c1, c2…] [sort s1… | zorder z1…] [into N]` →
      * [[graft.io.Folio.compact]]: fold a fed folio's accumulated
      * micro-batch files into N files per partition value under the
      * atomic `_CURRENT` version swap; `sort` keeps the linear sorted-run
      * convention, `zorder` switches to the Morton clustering (row-group
      * stats then prune on ANY listed column). A FILE verb like >>/<<:
      * the quoted path keeps `compact(x)` an expression over user
      * names. Returns the compacted read. */
    Verb("compact", path, Seq(opt("by", Idents()), opt("sort", Idents()),
        opt("zorder", Idents()), opt("into", PosInt, 1)),
      excl = Seq("sort" -> Seq("zorder"))) { (s, a) =>
      graft.io.Folio.compact(s, a.str("path"), a.names("by"), a.names("sort"),
        a.int("into"), a.names("zorder"))
      graft.io.Folio.promotedRead(s, a.str("path"))
    },
    /** `vacuum 'path'` → [[graft.io.Folio.vacuum]]: delete crash leftovers
      * (orphaned version dirs beyond live+fallback, stale `_CURRENT.tmp`)
      * — the maintenance-cadence sibling of `compact`; one row per
      * removed name so the cadence job can log its work. */
    Verb("vacuum", path) { (s, a) =>
      import s.implicits._
      graft.io.Folio.vacuum(a.str("path")).toDF("removed")
    },
    /** `rollup 'path'` — read the maintained aggregate;
      * `rollup 'path' append t by k1[, k2] on v1[, v2]` — one atomic
      * manifest-committed append folding t's partial into the stored
      * rollup, returning the updated aggregate. The dialect face of
      * [[graft.io.Folio.appendWithRollup]]/[[graft.io.Folio.rollupRead]]. */
    Verb("rollup", path, Seq(opt("append", Table), req("by", Idents(), needs = "append"),
        req("on", Idents(), needs = "append"))) { (s, a) =>
      a.get[String]("append").foreach(t => graft.io.Folio.appendWithRollup(s.table(t),
        a.str("path"), a.names("by"), a.names("on")))
      graft.io.Folio.rollupRead(s, a.str("path"))
    },
    /** `pivot t by k1[, k2] on p in ('a', 'b', …) agg fn(c)` — the kdb
      * pivot idiom (Kerf1/q heritage): one wide row per key with one
      * column per ENUMERATED value of `p` (quoted strings or bare
      * numbers — a numeric axis is as common as a string one), cells
      * aggregated by fn. The value domain is explicit — output columns
      * are part of the query's contract, never a data-dependent
      * surprise (and the lowering stays one groupBy.pivot pass with no
      * discovery scan). Absent (key, value) cells are null. */
    Verb("pivot", table, Seq(req("by", Idents()), req("on", Ident), req("in", Lits),
        req("agg", Call(Seq("sum", "avg", "min", "max", "count"))))) { (s, a) =>
      val (fn, c) = a[(String, String)]("agg")
      val aggCol = fn match {
        case "sum" => sum(col(c)); case "avg" => avg(col(c))
        case "min" => min(col(c)); case "max" => max(col(c))
        case "count" => count(col(c))
      }
      s.table(a.str("table")).groupBy(a.names("by").map(col): _*)
        .pivot(a.str("on"), a[Seq[Any]]("in")).agg(aggCol)
    },
    /** `unpivot t by k1[, k2] on (c1, c2, …) as namecol, valcol` — the
      * melt inverse of `pivot`: the enumerated wide columns fold into
      * (namecol, valcol) rows per key. Null cells SURVIVE as null valcol
      * rows (the exact pivot round-trip — engines that drop nulls on
      * unpivot silently lose the fact that a cell was absent). Wide
      * columns must share a type family (they widen to one). */
    Verb("unpivot", table, Seq(req("by", Idents()), req("on", ParenNames),
        req("as", Idents(2, 2)))) { (s, a) =>
      val Seq(nameCol, valCol) = a.names("as")
      s.table(a.str("table")).unpivot(a.names("by").map(col).toArray,
        a.names("on").map(col).toArray, nameCol, valCol)
    },
    /** `ungroup t [on c1, c2]` — q's ungroup, the inverse of the
      * `collect` aggregate: every array column (or the named ones)
      * explodes in LOCKSTEP — row i of each vector lands on the same
      * output row — while scalar columns repeat. Ragged vectors in one
      * row are a LOUD error (q's 'length), not a silent null-pad; a row
      * whose vectors are empty (or all null) contributes no rows, q's
      * convention. One generate, no shuffle — scales at scan speed. */
    Verb("ungroup", table, Seq(opt("on", Idents()))) { (s, a) =>
      val df = s.table(a.str("table"))
      val arrCols = if (a.has("on")) a.names("on")
        else df.schema.fields.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name).toSeq
      require(arrCols.nonEmpty,
        "ungroup: no array columns — nothing to explode (collect first, " +
        "or name columns with `on`)")
      arrCols.foreach(c => require(df.schema(c).dataType.isInstanceOf[ArrayType],
        s"ungroup: '$c' is ${df.schema(c).dataType.simpleString}, not an array"))
      // the rag guard lives INSIDE the exploded column so Catalyst can
      // never prune it (the meanPool discipline). A NULL vector counts as
      // size 0 (q's null ~ empty): an all-null row contributes no rows —
      // without the coalesce the size comparison is NULL and the when()
      // would fall through to the rag error instead of skipping the row.
      def sz(c: String) = coalesce(size(col(c)), lit(0))
      val sz0 = sz(arrCols.head)
      val allEq = arrCols.tail.foldLeft(lit(true))((acc, c) => acc && sz(c) === sz0)
      val zipped =
        if (arrCols.lengthCompare(1) == 0) col(arrCols.head)
        else when(allEq, arrays_zip(arrCols.map(col): _*))
          .otherwise(raise_error(concat(
            lit("ungroup: ragged vectors in one row (sizes "),
            concat_ws(",", arrCols.map(c => size(col(c)).cast("string")): _*),
            lit(") — q's 'length error; align or pad upstream"))))
      val scalarCols = df.columns.filterNot(arrCols.contains)
      val exploded = df
        .select(scalarCols.map(col) :+ explode(zipped).as("__zs"): _*)
      // original column order; single-column form explodes the bare value
      exploded.select(df.columns.toSeq.map { n =>
        if (!arrCols.contains(n)) col(n).as(n)
        else if (arrCols.lengthCompare(1) == 0) col("__zs").as(n)
        else col("__zs")(n).as(n)
      }: _*)
    },
    /** `uj t1, t2[, t3 …]` — q's UNION JOIN (Kerf1 heritage; the
      * table-level face of §2.7 union): union with SCHEMA ALIGNMENT.
      * The output carries every column ANY input has in first-appearance
      * order; missing columns fill with null; same-named numeric columns
      * WIDEN through the Folio append lattice (promote, never truncate —
      * the appendWithPromotion rule applied across tables). Incompatible
      * same-named types (string vs long) fail loudly. */
    Verb("uj", Clause("tables", Idents(2))) { (s, a) =>
      val tables = a.names("tables").map(s.table(_))
      // CASE-INSENSITIVE name identity (the session's caseSensitive=false
      // resolution): `Price` in t1 and `price` in t2 are ONE union column
      // under the first-appearance spelling, not two half-null columns
      val names = tables.flatMap(_.schema.map(_.name))
        .foldLeft(Vector.empty[String]) { (acc, n) =>
          if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n
        }
      val target = names.map { n =>
        n -> tables.flatMap(_.schema.find(_.name.equalsIgnoreCase(n)))
          .map(_.dataType).reduce(graft.io.Folio.widen)
      }.toMap
      tables.map { t =>
        val have = t.columns.map(_.toLowerCase).toSet
        t.select(names.map(n =>
          (if (have(n.toLowerCase)) col(n).cast(target(n))
           else lit(null).cast(target(n))).as(n)): _*)
      }.reduce(_.unionByName(_))
    })

  private val verbsByName: Map[String, Verb] = pipelineVerbs.map(v => v.name -> v).toMap

  /** The pipeline verbs' names (REPL completion). */
  private[graft] val verbNames: Seq[String] = pipelineVerbs.map(_.name)

  /** The verb a statement's tokens invoke, when its head shape holds. */
  private def verbOf(toks: List[String]): Option[Verb] =
    toks.headOption.flatMap(h => verbsByName.get(h.toLowerCase)).filter(_.matches(toks))

  /** Parse and check one verb statement without lowering it (no table
    * lookup, no Spark job); returns the verb's name. */
  private[graft] def checkVerb(statement: String): String = {
    val toks = lex(statement)
    val v = verbOf(toks).getOrElse(throw new IllegalArgumentException(
      s"not a pipeline verb statement: $statement"))
    parseVerb(v, toks)
    v.name
  }

  /** `insert into t values (…), (…)` / `upsert into t key k values …` —
    * values rows positional against the table schema. */
  private def runMerge(spark: SparkSession, p: P, isUpsert: Boolean,
                       programVars: Map[String, T] = Map.empty,
                       programFuncs: Map[String, FVal] = Map.empty): DataFrame = {
    p.expect("into")
    val name = p.pop()
    val df = spark.table(name)
    val keys = if (isUpsert && p.peekIs("key")) {
      p.pop(); val k = scala.collection.mutable.ArrayBuffer[String]()
      var more = true
      while (more) { k += p.pop(); if (p.peekIs(",")) p.pop() else more = false }
      k.toSeq
    } else Seq(df.columns.head)
    // `insert/upsert into t select …` — the incoming batch is a query
    // (the reference's insert-from-table shape); columns align by NAME
    // and cast to the target schema, missing/extra columns error
    if (p.peekIs("select")) {
      p.pop()
      val q = runSelect(spark, p, programVars, programFuncs)
      val qCols = q.columns.map(_.toLowerCase).toSet
      val want = df.columns.map(_.toLowerCase).toSet
      require(qCols == want,
        s"insert-select columns ${q.columns.sorted.mkString(",")} do not match " +
        s"target ${df.columns.sorted.mkString(",")}")
      val incoming = q.select(df.schema.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      return if (isUpsert) graft.ops.TableOps.upsert(df, incoming, keys)
             else graft.ops.TableOps.insert(df, incoming)
    }
    p.expect("values")
    val rows = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    while (!p.done && p.peekIs("(")) {
      p.expect("(")
      val vals = scala.collection.mutable.ArrayBuffer[Any]()
      var more = true
      while (more) {
        val t0 = p.pop()
        // '-' lexes as its own token: rejoin it with the number it negates
        val t = if (t0 == "-") "-" + p.pop() else t0
        vals += (t match {
          case v if v.equalsIgnoreCase("null") => null
          case v if v.matches("""-?\d+\.\d+""") => v.toDouble
          case v if v.matches("""-?\d+""") => v.toLong
          case v if v.startsWith("'") => unq(v)
          case v => v
        })
        if (p.peekIs(",")) p.pop() else more = false
      }
      p.expect(")")
      // arity is checked AT THE PARSE SITE: a long row would silently
      // drop its extra values against the positional schema below, a
      // short one would die with a row-length error deep inside the job
      require(vals.length == df.columns.length,
        s"values row has ${vals.length} value(s) but ${name} has " +
        s"${df.columns.length} column(s) (${df.columns.mkString(", ")})")
      rows += vals.toSeq
      if (p.peekIs(",")) p.pop()
    }
    require(rows.nonEmpty, "insert: VALUES lists at least one row")
    require(p.done, s"trailing tokens in insert/upsert: ${p.toks.mkString(" ")}")
    // values arrive untyped: build a string frame, cast per target schema
    val strSchema = StructType(df.schema.map(f => StructField(f.name, StringType)))
    val rdd = spark.sparkContext.parallelize(rows.toSeq.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.map(v => if (v == null) null else v.toString))))
    val incoming = spark.createDataFrame(rdd, strSchema)
      .select(df.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    if (isUpsert) graft.ops.TableOps.upsert(df, incoming, keys)
    else graft.ops.TableOps.insert(df, incoming)
  }
}
