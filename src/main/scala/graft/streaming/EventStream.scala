package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming over the events feed — the realtime half of the
  * reference's design (bus/feed-handler skeleton /root/reference/
  * bus.h:119–179, folio-of-sockets remote tables presented.h:427–430).
  * Kerf's "in-memory realtime table + on-disk historical table" split
  * becomes one code path: the same aggregation runs on `readStream` and
  * on the batch table, and `foreachBatch` lands micro-batches in the
  * same partitioned Parquet layout the batch engine reads.
  */
object EventStream {

  /** The events parquet as an unbounded stream (file source replays the
    * fixture; in production this is Kafka with the same schema). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // on-disk schema: `ts` has shipped both as a ns-long (nanosAsLong)
    // and as timestamp[µs] — normalizeEvents adapts either to (ts, ts_ns)
    val onDisk = graft.io.Parquet.schemaOf(spark, s"$dir/events.parquet")
    // file stream source wants a directory: stream the sf dir, glob to
    // the events file (in production: the events/ partition root or Kafka)
    graft.Tables.normalizeEvents(
      spark.readStream.schema(onDisk)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling event-time window aggregation with watermark. Complete
    * output mode so a bounded replay reproduces the batch answer exactly.
    * NOTE: in Complete mode the watermark evicts NOTHING (every window
    * ever created is retained to re-emit the full result) — a live
    * unbounded feed runs this in Append/Update mode, where the 2-hour
    * watermark actually bounds state. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
           min(col("value")).as("low"), max(col("value")).as("high"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
              col("event_type"), col("n"), col("sum_value"), col("low"), col("high"))

  /** STREAMING sessionization — the q43 batch island-detection as a
    * `session_window` streaming aggregation (SURVEY §2.9's session-window
    * row): per-user sessions close `gap` after the last event, merging
    * across micro-batches in the state store; watermark bounds how long
    * an open session can wait for stragglers. Emits the same
    * (user_id, session_start, n_events, duration_us) rows as the batch
    * window-lag formulation: `session_window.end` is last-event + gap, so
    * the span is `end - start - gap`. At scale state is one open session
    * per active user — eviction is the watermark, not table size. */
  def sessionsByUser(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("session_start"),
              col("n_events"),
              (unix_micros(col("session_window.end"))
                - unix_micros(col("session_window.start")) - gapUs).as("duration_us"))
  }

  /** Run a streaming aggregation to completion against the bounded
    * fixture and hand back the result as a normal DataFrame (memory
    * sink). This is the bridge Verify/tests use.
    *
    * State-partition count is pinned low for the replay: it is fixed at
    * QUERY START (not per batch), and 32 near-empty state stores cost
    * more per micro-batch than 4 full ones at replay volume. A live
    * deployment sizes it to keys×state instead. */
  def runToCompletion(spark: SparkSession, agg: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val q = agg.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally { q.stop() }
    } finally spark.conf.set(key, prev)
    spark.table(name)
  }

  /** Streaming EXACT DEDUP at the ingest boundary — the reference's SET
    * dedup-on-append (presented.cc:475–503) as a stream op: duplicate
    * keys arriving within the watermark horizon are dropped once; state
    * holds one entry per distinct key INSIDE the horizon and is evicted
    * as the watermark advances. The bounded-state form a live feed needs
    * (plain dropDuplicates would accumulate every key ever seen). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           horizon: String = "2 hours",
                           tsCol: String = "ts"): DataFrame = {
    require(keyCols.nonEmpty, "dedupWithinWatermark needs at least one key column")
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Streaming NEAR-dup suppression: documents whose 64-bit SimHash
    * signature collides inside the watermark horizon are collapsed to the
    * first arrival — the streaming half of the batch near-dup stack
    * (llm.Dedup). The signature is pure column algebra (map-only), so the
    * same expression runs on the stream; state is one signature per
    * distinct doc-shape inside the horizon. */
  def nearDupSuppress(docs: DataFrame, textCol: String, tsCol: String,
                      horizon: String = "2 hours"): DataFrame = {
    import graft.llm.Dedup
    docs
      .withColumn("__th", transform(Dedup.tokens(col(textCol)), t => xxhash64(t)))
      .withColumn("simhash", Dedup.simhashFromTokenHashes(col("__th")))
      .drop("__th")
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("simhash")
  }

  // ----- stateful: last-tick (Kerf's realtime "current value" table) -----

  case class Tick(user_id: Long, ts_ns: Long, value: Double)
  case class LastTick(user_id: Long, ts_ns: Long, value: Double, n_events: Long)

  /** mapGroupsWithState keeper of the latest tick per key — the order-book
    * /last-value state a tick DB maintains. State is one row per key
    * ever seen — NO idle eviction on this legacy face (state grows with
    * the key space); a live unbounded feed belongs on [[LastTickProcessor]],
    * whose idle timer actually evicts. Tied max timestamps resolve by
    * VALUE (post-shuffle arrival order is not stable across replays —
    * the emitted state must be a pure function of the data). */
  def lastTickUpdate(key: Long, ticks: Iterator[Tick],
                     state: GroupState[LastTick]): LastTick = {
    val prev = state.getOption
    val all = ticks.toSeq
    val latest = (prev.map(p => Tick(p.user_id, p.ts_ns, p.value)) ++ all)
      .maxBy(t => (t.ts_ns, t.value))
    val updated = LastTick(key, latest.ts_ns, latest.value,
      prev.map(_.n_events).getOrElse(0L) + all.size)
    state.update(updated)
    updated
  }

  def lastTicks(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts_ns"), col("value")).as[Tick]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(lastTickUpdate)
      .toDF()
  }

  /** transformWithState keeper of the latest tick per key — the
    * state-store-sizing story for the 100 TB design point (SURVEY §2.9):
    * typed ValueState in RocksDB (bounded off-heap state, changelog
    * checkpointing) plus a per-key idle timer that EVICTS keys not seen
    * for `idleTimeoutMs` — without eviction a long-lived feed's key space
    * grows without bound. `idleTimeoutMs = 0` disables timers.
    *
    * Streaming queries over this need
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` (transformWithState requirement).
    */
  class LastTickProcessor(idleTimeoutMs: Long)
      extends StatefulProcessor[Long, Tick, LastTick] {
    @transient private var last: ValueState[LastTick] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastTick]("last",
        Encoders.product[LastTick], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Tick],
                                 tv: TimerValues): Iterator[LastTick] = {
      val prev = if (last.exists()) Some(last.get()) else None
      val all = rows.toSeq
      // value tiebreak on equal timestamps: determinism under replay
      val latest = (prev.map(p => Tick(p.user_id, p.ts_ns, p.value)) ++ all)
        .maxBy(t => (t.ts_ns, t.value))
      val updated = LastTick(key, latest.ts_ns, latest.value,
        prev.map(_.n_events).getOrElse(0L) + all.size)
      last.update(updated)
      if (idleTimeoutMs > 0) {
        // re-arm the idle timer: stale timers from earlier batches would
        // otherwise evict freshly-updated state
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + idleTimeoutMs)
      }
      Iterator.single(updated)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[LastTick] = {
      last.clear() // idle-key eviction: state size tracks the ACTIVE key set
      Iterator.empty
    }
  }

  // ----- streaming as-of: trade enriched with the latest quote -----

  case class MarketRow(user_id: Long, ts_ns: Long, kind: String, value: Double)
  case class LastQuote(ts_ns: Long, value: Double)
  case class EnrichedTrade(user_id: Long, ts_ns: Long, trade_value: Double,
                           quote_ts_ns: Option[Long], quote_value: Option[Double])

  /** Streaming BACKWARD AS-OF: each trade ("t" row) is enriched with the
    * latest quote ("q" row) at-or-before its event time, per key — the
    * realtime half of the tick-DB as-of join (the batch halves are
    * `ops.AsOf.join/joinNative`). State per key is ONE quote row —
    * the same O(1) bound as the native exec's merge cursor.
    *
    * Within a micro-batch rows are processed in event-time order (quotes
    * first on ties — non-strict `<=` semantics, same as the batch op);
    * across batches ordering is arrival order, the streaming reality — a
    * quote arriving after a later-ts quote is ignored rather than
    * regressing state. */
  class AsOfEnrichProcessor extends StatefulProcessor[Long, MarketRow, EnrichedTrade] {
    @transient private var quote: ValueState[LastQuote] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      quote = getHandle.getValueState[LastQuote]("quote",
        Encoders.product[LastQuote], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[MarketRow],
                                 tv: TimerValues): Iterator[EnrichedTrade] = {
      val out = List.newBuilder[EnrichedTrade]
      // (ts, kind, value): equal-timestamp quotes tie-break on value —
      // the <= update rule would otherwise keep whichever sorted last
      // in unstable post-shuffle order, and every subsequent trade
      // would enrich differently across replays
      var cur = if (quote.exists()) Some(quote.get()) else None
      rows.toSeq.sortBy(r => (r.ts_ns, r.kind, r.value)).foreach { r =>
        if (r.kind == "q") {
          // state advances only MONOTONICALLY in (ts, value) — the same
          // total order lastTickUpdate keeps. A bare ts compare let an
          // at-least-once REDELIVERY of an equal-ts quote regress the
          // stored value (every later trade then enriched differently)
          if (!cur.exists(c => c.ts_ns > r.ts_ns ||
                (c.ts_ns == r.ts_ns && c.value > r.value)))
            cur = Some(LastQuote(r.ts_ns, r.value))
        } else {
          val m = cur.filter(_.ts_ns <= r.ts_ns)
          out += EnrichedTrade(key, r.ts_ns, r.value, m.map(_.ts_ns), m.map(_.value))
        }
      }
      cur.foreach(quote.update)
      out.result().iterator
    }
  }

  /** Input columns: (user_id, ts_ns, kind∈{"q","t"}, value). */
  def asOfEnrich(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("user_id"), col("ts_ns"), col("kind"), col("value")).as[MarketRow]
      .groupByKey(_.user_id)
      .transformWithState(new AsOfEnrichProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  // ----- streaming EMA: the UNBOUNDED-series form of Adverbs.ema -----

  case class EmaState(ts_ns: Long, ema: Double)
  case class EmaRow(user_id: Long, ts_ns: Long, value: Double, ema: Double)

  /** Running exponential moving average per key — the scale-correct
    * formulation for UNBOUNDED per-key series, where even
    * [[graft.ops.Adverbs.ema]]'s O(n) native scan would need the whole
    * series collected into one row first: state
    * is O(1) per key (last ts + last ema in RocksDB), each row costs
    * one multiply-add, and the emitted recurrence is the IDENTICAL
    * prev + α·(x − prev) expression — a bounded replay reproduces the
    * batch fold bit-for-bit (StreamingSpec pins it; q144 oracles it
    * against a recursive-CTE replay of the same arithmetic).
    *
    * Within a micro-batch rows process in event-time order (ties broken
    * by value — deterministic); a cross-batch regression OR equal-ts
    * redelivery (row not strictly newer than the last applied tick) is
    * SKIPPED rather than corrupting the recurrence — the same
    * no-state-regression posture as [[AsOfEnrichProcessor]], and it
    * makes at-least-once replays idempotent. Consequence, stated: on
    * inputs with duplicate (key, ts) pairs the stream applies ONE tick
    * per timestamp while the batch fold applies every row — unique
    * per-key timestamps (the tick-stream invariant, held by the
    * fixture) are the parity contract q144 oracles. */
  class EmaProcessor(alpha: Double) extends StatefulProcessor[Long, Tick, EmaRow] {
    @transient private var st: ValueState[EmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EmaState]("ema",
        Encoders.product[EmaState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Tick],
                                 tv: TimerValues): Iterator[EmaRow] = {
      val out = List.newBuilder[EmaRow]
      // one state read before the loop, one write after (per-row
      // RocksDB I/O is the hot-path cost on dense keys)
      var cur = if (st.exists()) Some(st.get()) else None
      rows.toSeq.sortBy(r => (r.ts_ns, r.value)).foreach { r =>
        if (!cur.exists(_.ts_ns >= r.ts_ns)) {
          val ema = cur match {
            case None => r.value
            case Some(p) => p.ema + alpha * (r.value - p.ema)
          }
          cur = Some(EmaState(r.ts_ns, ema))
          out += EmaRow(key, r.ts_ns, r.value, ema)
        }
      }
      cur.foreach(st.update)
      out.result().iterator
    }
  }

  // ----- streaming forward-fill: the UNBOUNDED form of dialect `fills` -----

  case class SparseTick(user_id: Long, ts_ns: Long, value: Option[Double])
  case class FillState(ts_ns: Long, has: Boolean, last: Double)
  case class FillRow(user_id: Long, ts_ns: Long, value: Option[Double],
                     filled: Option[Double])

  /** Per-key forward-fill state machine: carries the last non-null value
    * down the per-key time axis. O(1) state per key — (ts, last). EVERY
    * row is emitted (the batch `fills` window emits every row too):
    * TIED timestamps advance the carry in VALUE order (deterministic —
    * post-shuffle arrival order is not), so same-grain ticks are never
    * lost;
    * strictly-LATE rows (ts < the state's clock — out-of-order arrival)
    * emit with the CURRENT carry without perturbing the state, since
    * O(1) state cannot reconstruct the carry as of a historical ts. A
    * null tick advances the clock but not the carry. Under an
    * at-least-once source, replayed old rows therefore re-emit (with
    * the now-carry); a sink keyed on (user_id, ts_ns) restores
    * exactly-once. */
  class FillForwardProcessor extends StatefulProcessor[Long, SparseTick, FillRow] {
    @transient private var st: ValueState[FillState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FillState]("fill",
        Encoders.product[FillState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SparseTick],
                                 tv: TimerValues): Iterator[FillRow] = {
      val out = List.newBuilder[FillRow]
      // (ts, value) ordering: post-shuffle "arrival order" is NOT stable
      // across runs or checkpoint replays, so tied-timestamp ticks must
      // tie-break on the value or the final carry is nondeterministic
      var cur = if (st.exists()) Some(st.get()) else None
      rows.toSeq.sortBy(r => (r.ts_ns, r.value)).foreach { r =>
        val prev = cur
        // late = behind the carry in the SAME (ts, value) total order
        // the intra-batch sort uses — an equal-ts redelivery of an
        // older-valued tick must not regress the stored carry
        if (prev.exists(p => p.ts_ns > r.ts_ns ||
              (p.ts_ns == r.ts_ns && p.has && r.value.forall(_ < p.last)))) {
          // strictly late: own value wins, else the current carry;
          // the clock and carry stay put
          out += FillRow(key, r.ts_ns, r.value,
            r.value.orElse(prev.filter(_.has).map(_.last)))
        } else {
          val ns = r.value match {
            case Some(v) => FillState(r.ts_ns, has = true, v)
            case None => FillState(r.ts_ns,
              prev.exists(_.has), prev.map(_.last).getOrElse(0.0))
          }
          cur = Some(ns)
          out += FillRow(key, r.ts_ns, r.value,
            if (ns.has) Some(ns.last) else None)
        }
      }
      // ONE state-store write per (key, batch) — a dense key would
      // otherwise pay a RocksDB serialize+write per row
      cur.foreach(st.update)
      out.result().iterator
    }
  }

  /** Streaming forward-fill per key — the realtime quote carry (the
    * dialect `fills` verb for a live feed, where the batch window's
    * UNBOUNDED PRECEDING frame would mean unbounded state): input
    * columns (user_id, ts_ns, value NULLABLE); output adds `filled` =
    * the last non-null value at or before each tick (null until the
    * key's first non-null). */
  def fillForwardByKey(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("user_id"), col("ts_ns"), col("value")).as[SparseTick]
      .groupByKey(_.user_id)
      .transformWithState(new FillForwardProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  // ----- streaming on-change conflation: the streaming face of `differs` -----

  case class ChangeState(ts_ns: Long, last: Double)

  /** Per-key ON-CHANGE conflation — the tick-feed "publish only when
    * the value changes" pattern, the streaming face of the `differs`
    * window verb (and equivalent to it: a suppressed tick's value
    * equals the last emitted one, so comparing against the last
    * EMITTED value is the same test as against the previous row).
    * O(1) RocksDB state per key: (clock, last value). Suppressed ticks
    * still advance the clock (they are real ticks); strictly-late rows
    * are dropped — their change status against history is unknowable
    * with O(1) state, and emitting them would break the on-change
    * invariant downstream consumers rely on. */
  class OnChangeProcessor extends StatefulProcessor[Long, Tick, Tick] {
    @transient private var st: ValueState[ChangeState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ChangeState]("chg",
        Encoders.product[ChangeState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Tick],
                                 tv: TimerValues): Iterator[Tick] = {
      val out = List.newBuilder[Tick]
      // (ts, value) is the DETERMINISM contract, not a convenience:
      // "arrival order" within a micro-batch is post-shuffle order,
      // which is not stable across runs — tied-timestamp ticks must
      // tie-break on the value so the emitted change set is a pure
      // function of the data (the q170/q171 oracle's ORDER BY ts,
      // value convention; batch `differs` runs over the caller's
      // declared order clause, which carries the same tiebreak)
      var cur = if (st.exists()) Some(st.get()) else None
      rows.toSeq.sortBy(r => (r.ts_ns, r.value)).foreach { r =>
        // skip anything behind the state in the (ts, value) order — an
        // equal-ts redelivery of an older value must neither re-emit a
        // spurious change nor regress the 'last emitted' comparison point
        if (!cur.exists(c => c.ts_ns > r.ts_ns ||
              (c.ts_ns == r.ts_ns && c.last > r.value))) {
          // Double.compare, not ==: batch `differs` uses <=> where
          // NaN equals NaN — a NaN run must suppress, not re-emit
          if (!cur.exists(p => java.lang.Double.compare(p.last, r.value) == 0))
            out += r
          cur = Some(ChangeState(r.ts_ns, r.value))
        }
      }
      cur.foreach(st.update)
      out.result().iterator
    }
  }

  /** Streaming on-change filter per key — emits a tick iff its value
    * differs from the key's last emitted value (first tick always
    * emits). Input columns: (user_id, ts_ns, value). The conflation
    * that turns a dense quote feed into a change feed at O(1) state. */
  def onChangeByKey(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("user_id"), col("ts_ns"), col("value")).as[Tick]
      .groupByKey(_.user_id)
      .transformWithState(new OnChangeProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Streaming ROLLUP maintenance — the realtime face of
    * [[graft.io.Folio.appendWithRollup]] (the kdb EOD loop, closed the
    * way [[graft.llm.Similarity.ivfAppendStream]] closes the index's):
    * each micro-batch lands as one manifest-committed append, so the
    * maintained aggregate is exact after every batch and a reader can
    * never observe data without its rollup. Exactly-once: the
    * (writerId, batchId) pair publishes atomically WITH the data as
    * the version's commit tag, and the guard checks the folio's FULL
    * applied-tag set ([[graft.io.Folio.rollupCommitTags]], compacted
    * to the latest batch per writer), so an at-least-once re-delivery
    * (crash between the folio commit and the checkpoint advance)
    * SKIPS — even when another writer's commit landed in between. The
    * writer id derives from the CHECKPOINT location (stable across
    * restarts of the same logical query; a fresh checkpoint = a fresh
    * writer whose batch 0 is never shadowed by an old writer's tags).
    * Passing `checkpoint` pins both the Spark checkpoint and the
    * writer id; without it the query uses Spark's session default
    * checkpoint and a single shared writer id — fine for the
    * one-writer-per-path deployments the doc always assumed. */
  def rollupStream(stream: DataFrame, path: String, keys: Seq[String],
                   valCols: Seq[String], checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    taggedBatchSink(stream, path, checkpoint) { (batch, tag) =>
      graft.io.Folio.appendWithRollup(batch, path, keys, valCols, tag)
    }

  /** The shared exactly-once scaffold for every manifest-log sink
    * (rollup, histogram, LSH-index ingest): mint the (writerId, batchId)
    * tag, skip if the folio's applied set already holds it, otherwise
    * run `append` — which MUST publish the tag atomically with its data
    * (all three appends do, through [[graft.io.Folio
    * .writeCommitArtifacts]]). One implementation so the replay
    * semantics cannot silently diverge between sinks. */
  private[graft] def taggedBatchSink(stream: DataFrame, path: String,
      checkpoint: Option[String])(
      append: (DataFrame, Option[String]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writerId = writerIdOf(checkpoint)
    // the legacy-tag shadow is honored for THIS RUN's first processed
    // batch only (see batchUnapplied): the straddling re-delivery, when
    // it exists, is necessarily the first batch a resumed query hands
    // this sink — every later batch id colliding with the lingering
    // legacy tag belongs to this (post-upgrade) writer and must apply
    val firstBatch = new java.util.concurrent.atomic.AtomicBoolean(true)
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(cp => w0.option("checkpointLocation", cp))
    w.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // Materialize the batch ONCE, cached, BEFORE the applied-tag
        // guard. A stateful upstream (transformWithState) must commit
        // its state stores for EVERY batch — including batches the
        // guard skips as already applied (the crash-replay window) and
        // empty batches — and a partial-partition probe (`isEmpty` is a
        // limit job) or a no-job skip leaves state uncommitted: Spark's
        // commit validation then fails the whole query ("expected N
        // commits but got 0" — found by the r18 exactly-once KILL
        // test). The full count commits state exactly once per batch,
        // and the cache keeps the append job from recomputing the
        // stateful subtree.
        val b = batch.toDF().persist()
        try {
          val n = b.count()
          appendGuarded(path, writerId, id,
            honorLegacy = firstBatch.getAndSet(false)) {
            tag => append(b, tag) }(
            () => n == 0)
        } finally b.unpersist(false)
      }
      .start()
  }

  /** One guarded micro-batch commit with CAS-loss retry: a sink losing
    * the folio's commit race to a MANUAL appender (a dialect append
    * interleaving with the stream on one path) re-reads the applied set
    * and redoes its append instead of failing the whole streaming
    * query — safe because the append publishes the tag atomically with
    * its data, so a retry after a loss (where nothing of ours
    * published) can never double-apply. A loss can also surface as a
    * STALE-SNAPSHOT read failure rather than the CAS exception: folio
    * retention is bounded (live + keep fallbacks), so a writer ≥ keep+1
    * commits behind can have the very version dir its merge plan reads
    * GC'd mid-job (FileNotFound inside a SparkException) — same cause,
    * same cure, the retry re-plans from the live version. Bounded: a
    * pathological always-losing sink still fails loudly after
    * `MaxCommitRetries`. `isEmpty` is deferred so the (Spark-job)
    * emptiness check runs only when the batch is not already applied. */
  private[graft] val MaxCommitRetries = 8
  private[graft] def appendGuarded(path: String, writerId: String, id: Long,
      honorLegacy: Boolean = true)(
      append: Option[String] => Unit)(isEmpty: () => Boolean): Unit = {
    val tag = s"stream-batch:$writerId:$id"
    var tries = 0
    var done = false
    while (!done) {
      if (!batchUnapplied(graft.io.Folio.rollupCommitTags(path), writerId, id,
            honorLegacy, where = path)
          || isEmpty()) done = true
      else {
        tries += 1
        try { append(Some(tag)); done = true }
        catch {
          case e: graft.io.ConcurrentPublishException =>
            if (tries >= MaxCommitRetries) throw e
            Thread.sleep(50L * tries)
          case scala.util.control.NonFatal(e) if staleSnapshotFailure(e) =>
            if (tries >= MaxCommitRetries) throw e
            Thread.sleep(50L * tries)
        }
      }
    }
  }

  /** A read failure whose cause chain says a file/dir vanished — the
    * signature of scanning a folio version that lost its retention race
    * (never of a correctness bug: version dirs are immutable while
    * retained). Genuine persistent FS trouble re-throws after the
    * bounded retries anyway. */
  private def staleSnapshotFailure(t: Throwable): Boolean = {
    var c = t; var depth = 0
    while (c != null && depth < 16) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = c.getMessage
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("does not exist"))) return true
      c = c.getCause; depth += 1
    }
    false
  }

  /** The replay guard: true iff batch `id` from `writerId` has NOT been
    * committed to the folio yet. Pre-writer-id folios tagged batches
    * 'stream-batch:<batchId>' (no writer segment); a crash re-delivery
    * that straddles that code upgrade replays a batch whose applied tag
    * is in the LEGACY form, so the guard must honor that spelling or
    * the batch double-applies (rollup double-count). But the legacy tag
    * carries no writer, so honoring it too widely silently DROPS other
    * writers' batches (it lingers in the applied set forever) — the
    * shadow is therefore scoped to where the straddling re-delivery can
    * actually occur: the query run's FIRST processed batch
    * (`honorLegacy`, minted by [[taggedBatchSink]]; batch ids are
    * monotone per checkpoint, so a resumed pre-upgrade query re-delivers
    * its uncommitted batch first), and only for a writer with no earlier
    * progress of its own in the applied set. Residual ambiguity — a
    * fresh-checkpoint query that crashes before its very first commit
    * AND whose first batch id collides with the legacy tag — is
    * undecidable from the tags alone and resolves on the side of not
    * double-applying, like the reference's at-least-once posture —
    * but LOUDLY: the suppression is logged (with the colliding tag) so
    * a drop that was actually fresh data is observable in the driver
    * log instead of silent. */
  private[graft] def batchUnapplied(applied: Set[String], writerId: String,
                                    id: Long,
                                    honorLegacy: Boolean = true,
                                    where: String = "?"): Boolean = {
    if (applied.contains(s"stream-batch:$writerId:$id")) return false
    if (!honorLegacy || !applied.contains(s"stream-batch:$id")) return true
    val ownEarlier = applied.exists {
      case graft.io.Folio.StreamTagRe(w, n) => w == writerId && n.toLong < id
      case _ => false
    }
    if (!ownEarlier)
      System.err.println(
        s"[graft] WARN: legacy tag 'stream-batch:$id' at $where shadows writer " +
        s"$writerId's first batch $id — skipped as a presumed pre-upgrade " +
        "re-delivery (at-least-once posture). If this query is NOT resuming a " +
        "pre-writer-id checkpoint, the batch was fresh data: replay it, and " +
        "vacuum the legacy tag once a post-upgrade writer has committed.")
    ownEarlier
  }

  /** Writer id for the streaming folio sinks: a hash of the checkpoint
    * location (the identity Spark itself scopes batch ids to). A
    * checkpoint-DEFAULTED query gets a FRESH id per sink start: Spark
    * backs it with a temporary checkpoint whose batch ids restart at 0
    * on every run, so a stable shared id ('default', the pre-r15
    * spelling) made a plain restart's batch 0 collide with a compacted
    * tag history — double-applying old data or skipping new — and two
    * concurrently-running defaulted queries on one path shaded each
    * other's batches. A fresh id keeps same-run foreachBatch retries
    * exactly-once (the tag guard's actual job here); cross-RESTART
    * exactly-once genuinely requires a durable checkpoint, which is the
    * documented contract. Hex — it rides inside commit-tag strings.
    * The fresh id is minted in the EPHEMERAL spelling
    * (`eph<mint-millis-hex>-<random-hex>`) so the applied set does not
    * grow one permanent tag per defaulted-query restart: any later
    * publish ages ephemeral tags out past
    * [[graft.io.Folio.EphemeralTagRetentionMs]] (their only job is
    * same-run retry idempotence, which lives well inside the window). */
  private[graft] def writerIdOf(checkpoint: Option[String]): String =
    checkpoint.map { cp0 =>
      // canonicalize the SPELLING first (hadoop Path: collapses '//',
      // strips a trailing '/'): the id must be a function of the
      // checkpoint, not of how the caller typed it — '/ckpt' vs
      // '/ckpt/' would otherwise mint two writers for one checkpoint,
      // and a crash-then-respelled-restart's re-delivered batch would
      // pass the replay guard and double-apply
      val cp = new org.apache.hadoop.fs.Path(cp0).toString
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(cp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.take(8).map("%02x".format(_)).mkString
    }.getOrElse {
      val b = new Array[Byte](8)
      java.util.concurrent.ThreadLocalRandom.current().nextBytes(b)
      s"eph${java.lang.Long.toHexString(System.currentTimeMillis())}-" +
        b.map("%02x".format(_)).mkString
    }

  /** Streaming face of the HISTOGRAM rollup ([[graft.io.Folio
    * .appendWithHistogram]]): each micro-batch folds its grid-bucket
    * partial into the maintained histogram under the same manifest-log
    * commit — live p50/p95/p99 over an unbounded feed from vocab-sized
    * state, no history rescan, same exactly-once replay guard as
    * [[rollupStream]] ((writerId, batchId) tag against the applied
    * set; writer id from the checkpoint location). */
  def histogramStream(stream: DataFrame, path: String, keys: Seq[String],
                      valCol: String, lo: Double, width: Double,
                      nBuckets: Int, checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    taggedBatchSink(stream, path, checkpoint) { (batch, tag) =>
      graft.io.Folio.appendWithHistogram(batch, path, keys, valCol,
        lo, width, nBuckets, tag)
    }

  /** Input columns: (user_id, ts_ns, value). */
  def emaByKey(stream: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("user_id"), col("ts_ns"), col("value")).as[Tick]
      .groupByKey(_.user_id)
      .transformWithState(new EmaProcessor(alpha), TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Last-tick via transformWithState (the mapGroupsWithState successor).
    * Emits the updated current-value row per key per micro-batch.
    *
    * TimeMode is None unless eviction is requested: under ProcessingTime
    * the engine must keep scheduling batches so timers can fire even with
    * no input — correct for a live feed, but it means
    * `processAllAvailable` never quiesces; bounded replays/tests of the
    * no-timer path want the data-driven mode. */
  def lastTicksTws(events: DataFrame, idleTimeoutMs: Long = 0L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val mode = if (idleTimeoutMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    events.select(col("user_id"), col("ts_ns"), col("value")).as[Tick]
      .groupByKey(_.user_id)
      .transformWithState(new LastTickProcessor(idleTimeoutMs), mode, OutputMode.Update())
      .toDF()
  }
}
