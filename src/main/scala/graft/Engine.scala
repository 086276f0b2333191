package graft

import org.apache.spark.sql.SparkSession

/** Single place that knows how to build a correctly-configured session.
  *
  * Replaces the reference's hand-rolled runtime (memory pools, sutexes,
  * mmap early-queue — /root/reference/concurrency-model.md) with Spark's
  * executor model; the configs below are the scale-relevant knobs:
  *
  *  - `spark.sql.shuffle.partitions` sized to the local core count (the
  *    driver harness runs local[32]); on a real cluster AQE coalesces.
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  *    the Spark analog of the reference folio rebalancing
  *    (/root/reference/adverbs.h:211–295).
  *  - `nanosAsLong`: the `events` fixture carries timestamp[ns] (Kerf's
  *    STAMP_DATETIME is ns, /root/reference/enums.h:166); Spark's
  *    TimestampType is µs, so we read ns as a long shadow column and
  *    derive a µs timestamp where µs fidelity suffices (SURVEY §7.5.2).
  *  - `spark.sql.codegen.cache.maxEntries` = 1000, a constant sized to the
  *    warm working set of generated classes. The seven `interactive`
  *    bench queries generate 90 classes per pass at sf0.1. Spark's default
  *    of 100 entries is a segmented cache that evicts per segment, well
  *    before it holds 100, so every warm pass still recompiled 23 of the
  *    90 (a traced warm round: 1.7 compiles, 41 ms, per request). At 1000
  *    a warm pass compiles none. The `corpus` mix sits at the
  *    same edge: one traced warm round recompiled 14 for q72 at 100, none
  *    at 1000.
  *  - `spark.sql.artifact.isolation.enabled` = false, so that cache is
  *    shared by every session. Spark keys a generated class by (class
  *    loader, code), and with isolation on each session gets its own
  *    executor class loader: every `newSession()`, and the clone each
  *    `StreamingQuery` runs its batches in. Each stream start then
  *    recompiled the same 17 classes of `EventStream.rollupStream`, and
  *    the seven `interactive` queries recompiled 56 in a `newSession()`
  *    (sf0.001; `StreamCodegenReuseSpec` pins both at 0).
  *    Isolation only scopes session-added jars and files, and the engine
  *    adds none.
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` (the
  *    `spark.hadoop.` settings of `io.LocalFs`): Hadoop's local filesystem
  *    without `libhadoop` forks `chmod` on every `mkdirs` and `create` and
  *    `readlink` on every `FileContext` rename — about 105 child processes
  *    per ingest round of folio writes and stream checkpoints. `io.LocalFs`
  *    makes the same calls through NIO; files, checksums and renames are
  *    Hadoop's own.
  *  - `plans.SingleTaskSortRule`, an AQE runtime rule: a small measured
  *    global sort runs in one task, because a range exchange costs a
  *    sampling job and a map job; its size limit is AQE's own advisory
  *    partition size, so the engine sets none.
  */
object Engine {
  def session(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = 32): SparkSession = {
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt)
    val sp = math.min(shufflePartitions, cores.map(_ * 2).getOrElse(shufflePartitions))
    // rule exclusions a caller may have configured through any channel —
    // JVM system properties, SparkConf defaults (spark-submit --conf /
    // spark-defaults.conf), or an active session that getOrCreate reuses
    val priorExcludedRules: Seq[String] = {
      val key = "spark.sql.optimizer.excludedRules"
      // SparkConf(loadDefaults=true) already folds in every spark.* JVM
      // system property, so the conf channel covers both
      val fromConf = new org.apache.spark.SparkConf(true).getOption(key)
      val fromSession = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .flatMap(s => scala.util.Try(s.conf.get(key)).toOption)
      (fromConf.toSeq ++ fromSession.toSeq)
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).distinct
    }
    // getOrCreate REUSES any active session, and SparkSessionExtensions
    // only apply at construction — a foreign session would come back
    // without AsOfStrategy/the rewrite rules and every native as-of
    // would die at planning with an opaque 'No plan for AsOfJoinPlan'.
    // The marker conf (set at build below) makes the reuse loud instead.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .foreach { prior =>
        require(scala.util.Try(prior.conf.get("spark.graft.engine"))
                  .toOption.contains("true"),
          "an active SparkSession exists that was NOT built by " +
          "graft.Engine.session() — its planner lacks the graft " +
          "extensions (native as-of, rewrite rules). stop() it first, " +
          "or build every session through Engine.session()")
      }
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions { e =>
        e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
        // auto-rewrite of the plain-SQL as-of idiom (join + row_number()=1)
        // into the native O(1)-state merge — see AsOfRewriteRule
        e.injectOptimizerRule(_ => graft.plans.AsOfRewriteRule)
        // aggregate navigation over rollup folios (opt-in per session:
        // spark.graft.rollup.rewrite=true) — see RollupRewriteRule
        e.injectOptimizerRule(_ => graft.plans.RollupRewriteRule)
        // a small measured global sort runs in one task — see SingleTaskSortRule
        e.injectRuntimeOptimizerRule(_ => graft.plans.SingleTaskSortRule)
      }
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(graft.io.LocalFs.settings)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE SMJ→shuffled-hash conversion (guide §3.1): when every
      // post-shuffle partition is under this bound at RUNTIME, the join
      // skips both sort passes. Runtime-sized (not estimate-sized), and
      // it only rewrites joins that already sit on shuffle exchanges —
      // the bucketed sorted-folio SMJs (zero exchange, zero sort, the
      // BucketingSpec pin) are untouched, unlike the static
      // preferSortMergeJoin=false switch which would steal them. 64 MB
      // per-partition build is a safe executor footprint at any scale;
      // partitions larger than that keep the spill-graceful SMJ.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // let AQE coalesce under persist() too: the dedup/census operator
      // caches otherwise materialize at the static shuffle-partition
      // count, fanning every downstream read of a KB-sized cached model
      // table into dozens of near-empty tasks
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // sorted-folio reads report their sort order: bucketed scans expose
      // the sortBy order when every bucket is one file (guaranteed by
      // Folio.writeSortedTable's pre-repartition), so merge consumers
      // (sort-merge join, native as-of) skip both exchange AND sort —
      // Kerf's parted+sorted table locality (presented.h:409–430)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Kerf map amend_one is insert-or-UPDATE (test.cc:413): duplicate
      // keys in map-building functions resolve to the last write
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate turns every explode(arr) into an inferred
      // `size(arr)>0 AND isnotnull(arr)` filter; predicate pushdown then
      // substitutes arr's WHOLE defining expression into that filter and
      // sinks it below the exchange — for our dedup/LSH pipelines (explode
      // over a computed shingle/sketch array) that re-evaluates the
      // tokenize→shingle→hash chain 3× per row, interpreted (higher-order
      // functions are CodegenFallback). Measured 9.4s → 0.9s on the q66
      // corpus explode at sf0.1. The rule only ever pays off when the
      // generator input is a scannable column (never true here), so it is
      // excluded session-wide rather than persist-barriered per call site.
      // Session-wide trade-off: a user query exploding a SCANNED array
      // column loses the inferred isnotnull/size pruning filter. Our
      // exclusion is APPENDED to (never replaces) exclusions arriving via
      // any of the three channels a caller can use: JVM system properties,
      // a default SparkConf (spark-submit --conf / spark-defaults), or an
      // already-running session that getOrCreate will reuse.
      .config("spark.sql.optimizer.excludedRules",
              (priorExcludedRules :+
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
                .distinct.mkString(","))
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // NOTE on timestamps in parquet: the session keeps Spark's INT96
      // default because DuckDB reads INT96 as a NAIVE timestamp (the
      // oracle compare's rendering), while INT64 TIMESTAMP(MICROS,
      // adjusted=true) reads back WITH TIME ZONE. Tables served over the
      // remote-scan wire need INT64 MICROS (the scan's physical-type
      // check says so loudly); set spark.sql.parquet.outputTimestampType
      // =TIMESTAMP_MICROS around those writes.
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.graft.engine", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the graft SQL surface (text/pipeline macros + native fns/aggs):
    // every session speaks `SELECT graft_redact_pii(text) …`
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }
}
