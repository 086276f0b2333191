package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftColumnGlue}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Corpus-pipeline operators beyond cleaning/dedup (BASELINE north-star):
  * PII redaction, reproducible sampling, sequence packing, benchmark
  * decontamination. Everything is column algebra or one bounded shuffle —
  * the shapes that survive a 100 TB corpus.
  */
object Pipeline {

  /** PII redaction — the scrub pass every released corpus runs. Three
    * codegen'd regex passes (email → `<EMAIL>`, IPv4 → `<IP>`, intl-style
    * phone → `<PHONE>`), in that order so emails' dotted domains are gone
    * before the IP pattern looks. RE2-and-Java-compatible patterns only,
    * so an external engine (and the DuckDB oracle) can run the identical
    * chain. Map-only: zero shuffles at any scale. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+\\d[\\d\\- ]{6,}\\d"
  def redactPii(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(t,
      emailRe, "<EMAIL>"), ipv4Re, "<IP>"), phoneRe, "<PHONE>")

  /** Deterministic hash sampling: keep rows whose md5(key) hex prefix
    * sorts below `hexCeil` (e.g. "29" ≈ 16%). Seed-free, engine-portable
    * (md5 is bit-identical everywhere — the sample is REPRODUCIBLE across
    * reruns, engines, and partitionings, unlike rand()), and map-only: the
    * filter pushes into the scan pipeline with no shuffle and no RNG
    * state. This is how a 100 TB corpus cuts a stable dev subsample. */
  def hashSample(df: DataFrame, key: Column, hexCeil: String): DataFrame = {
    requireHexCeil(hexCeil)
    df.filter(substring(md5(key), 1, hexCeil.length) < hexCeil)
  }

  /** md5() emits LOWERCASE hex; an uppercase or non-hex ceiling compares
    * lexicographically wrong and silently skews the rate toward 0 — fail
    * loudly instead, with the same strictness as the dialect's `sample`
    * verb (the API and text surfaces share one contract). */
  private def requireHexCeil(hexCeil: String): Unit =
    require(hexCeil.nonEmpty &&
        hexCeil.forall(c => c.isDigit || ('a' <= c && c <= 'f')),
      s"hex ceiling must be non-empty lowercase hex [0-9a-f], got '$hexCeil'")

  /** Deterministic CORPUS MIXING — the dataset-assembly step between
    * cleaning and packing: each source contributes a [[hashSample]] at
    * its own rate (the mixture weights a training run prescribes) and
    * carries a provenance tag. Seed-free and engine-portable like the
    * sample it composes: re-running, re-partitioning, or re-ordering the
    * sources reproduces the EXACT same mixture (a rand()-based mixer
    * resamples differently every run — unusable for a reproducible data
    * recipe). Map-only per source; the union is a metadata operation.
    * Schemas must agree (same contract as a folio). `sourceCol` must not
    * collide with a data column. */
  def mixCorpora(sources: Seq[(String, DataFrame, String)], key: Column,
                 sourceCol: String = "mix_source"): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    val cols = sources.head._2.columns.toSeq
    sources.foreach { case (tag, df, _) =>
      require(df.columns.toSeq == cols,
        s"mix source '$tag' schema mismatch: ${df.columns.mkString(",")} vs ${cols.mkString(",")}")
      require(!df.columns.exists(_.equalsIgnoreCase(sourceCol)),
        s"mix source '$tag' already has a '$sourceCol' column")
    }
    sources.map { case (tag, df, hexCeil) =>
      hashSample(df, key, hexCeil).withColumn(sourceCol, lit(tag))
    }.reduce(_.unionByName(_))
  }

  /** GPT-style sequence packing (concat-and-chunk): documents are laid
    * end-to-end in a deterministic order within each stream and cut into
    * fixed `ctxTokens` windows; a document lands in the chunk containing
    * its start offset. Exactly one shuffle (the per-stream window sort);
    * at scale each stream partition packs independently — the same
    * contract a sharded training-data writer uses. */
  def packChunks(docs: DataFrame, streamCol: String, orderCol: String,
                 textCol: String, ctxTokens: Int): DataFrame = {
    require(ctxTokens > 0, "ctxTokens must be positive")
    // same collision contract as mixCorpora's added column: composing
    // with withQualityFeatures (which also emits n_tokens) would
    // otherwise yield a duplicate column and AMBIGUOUS_REFERENCE far
    // downstream
    Seq("n_tokens", "chunk_id").foreach(c =>
      require(!docs.columns.contains(c),
        s"packChunks adds a '$c' column but the input already has one — " +
        "drop or rename it first"))
    val w = Window.partitionBy(col(streamCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("__toks", TextOps.tokenCount(col(textCol)).cast("long"))
      .withColumn("__start", coalesce(sum(col("__toks")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"__start div $ctxTokens"))
      .drop("__start")
      .withColumnRenamed("__toks", "n_tokens")
  }

  /** (doc_id, __shh) frame of xxhash64'd n-gram shingles — the shared
    * map stage of [[contamination]] and [[decontaminate]] (one
    * implementation so the two overlap metrics can never hash
    * differently and silently disagree). */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = df
    .select(col(idCol).as("doc_id"),
      graft.functions.ShingleHashes.shingleHashes(
        Dedup.normText(col(textCol)), n).as("__shh"))

  /** Benchmark decontamination check: for each corpus document, the
    * fraction of its distinct word n-grams that appear anywhere in the
    * benchmark set (the overlap metric eval-set decontamination uses).
    * The benchmark's distinct shingles BROADCAST (eval sets are tiny next
    * to the corpus); the corpus side is explode → broadcast semi-join →
    * partial-agg groupBy, so nothing n² and no wide shuffle of text.
    * Returns only docs with ≥1 shared shingle (semi-join hits) — clean
    * docs are the overwhelming majority at scale and are implicitly 0. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // shingles leave the map stage as 8-byte xxhash64 longs, never as
    // n-gram strings: the native ShingleHashes expression hashes token
    // windows in place (distinct, bit-identical to hashing the shingle
    // string), so the exploded corpus column and the broadcast set stay
    // compact (collision odds ~|shingles|²/2⁶⁴ — immaterial for an
    // overlap metric; the DuckDB twin joins the raw strings and agrees)
    def sh(df: DataFrame) = shingleFrame(df, idCol, textCol, n)
    val bench = sh(benchmark).select(explode(col("__shh")).as("s")).distinct()
    val corp = sh(corpus).select(col("doc_id"),
      size(col("__shh")).cast("long").as("n_shingles"), explode(col("__shh")).as("s"))
    corp.join(broadcast(bench), Seq("s"), "left_semi")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contamination",
        round(col("n_shared").cast("double") / col("n_shingles").cast("double"), 6))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"), col("contamination"))
  }

  /** EXACT decontamination FILTER at big-benchmark scale: drop every
    * corpus doc sharing more than `maxShared` distinct n-gram shingles
    * with the benchmark, return the surviving (clean) corpus rows.
    *
    * [[contamination]] broadcasts the benchmark's shingle set — right
    * when the eval set is small. A HELM-scale union (100M+ shingles) is
    * gigabytes as a broadcast set but ~120 MB as a 1%-fpp Bloom filter,
    * so here the filter is what ships: built DISTRIBUTED (Catalyst
    * `BloomFilterAggregate`, mergeable partials — the same machinery
    * Spark's InjectRuntimeFilter uses), then bound as a literal into a
    * map-side `BloomFilterMightContain` prefilter over the corpus
    * shingles. Only prefilter survivors — true hits plus ~fpp of the
    * clean majority — reach the exact semi-join that confirms, so Bloom
    * false positives CANNOT leak into the output: the result is exact
    * and fpp-independent (the DuckDB twin, q106, computes the same
    * answer from raw shingle strings with no bloom at all). fpp only
    * tunes how much of the corpus pays the confirm-join shuffle.
    * Driver state: the serialized filter (capped via `fpp`), same
    * documented-collect class as the IVF centroid matrix.
    * Crossover (measured, SCALING.md "Corpus pipeline", q106): when the
    * benchmark IS broadcastable the two extra bench passes buy nothing —
    * use [[contamination]] there; this path wins once the confirm join
    * would otherwise shuffle every corpus shingle. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    maxShared: Long = 0, fpp: Double = 0.01,
                    expectedBenchItems: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(expectedBenchItems >= 0, "expectedBenchItems: 0 = count, else a size hint")
    def sh(df: DataFrame) = shingleFrame(df, idCol, textCol, n)
    // three consumers of the benchmark's shingle set (sizing count,
    // bloom build, confirm join) → one sealed cache, the q29 pattern
    val (bench, ownBench) = graft.ops.Caches.acquire(
      sh(benchmark).select(explode(col("__shh")).as("s")).distinct())
    val mightContain = bloomPredicate(bench, "s", fpp, expectedBenchItems)(col("s"))
    val contaminated = sh(corpus)
      .select(col("doc_id"), explode(col("__shh")).as("s"))
      .filter(mightContain)                      // map-side, no shuffle
      .join(bench, Seq("s"), "left_semi")        // exact confirm, survivors only
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_shared"))
      .filter(col("__n_shared") > maxShared)
      .select(col("doc_id"))
    // seal the TINY dirty-id list (not the corpus-sized clean result):
    // materializing it here releases the bench cache at the operator
    // boundary while the clean corpus stays a lazy anti-join
    val dirty = graft.ops.Caches.seal(contaminated,
      (if (ownBench) Seq(bench) else Nil): _*)
    corpus.join(dirty, corpus(idCol) === dirty("doc_id"), "left_anti")
  }

  /** Build a Bloom filter over `items(itemCol)` (long hashes) and
    * return the literal-bound might-contain PREDICATE FACTORY — the
    * reusable core of [[decontaminate]]'s prefilter. Two driver
    * actions at build time (sizing count — skipped when
    * `expectedItems` > 0, the autoNBits `0 ⇒ measure` convention —
    * and the ~MB filter bytes); the predicate itself is stateless
    * column algebra, so it runs map-side anywhere a filter runs,
    * INCLUDING a streaming micro-batch plan. A wrong size hint cannot
    * corrupt [[decontaminate]]'s answer, only the prefilter's realized
    * fpp: an undersized bloom saturates, more shingles pay the confirm
    * join, the join still decides (pinned in PipelineSpec). */
  def bloomPredicate(items: DataFrame, itemCol: String, fpp: Double = 0.01,
                     expectedItems: Long = 0L): Column => Column = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(expectedItems >= 0, "expectedItems: 0 = count, else a size hint")
    val n = if (expectedItems > 0) expectedItems
            else math.max(items.count(), 1L)
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val agg = new BloomFilterAggregate(
      GraftColumnGlue.toCatalystExpr(col(itemCol)),
      Literal(n), Literal(nBits)).toAggregateExpression()
    val bytes = items.select(GraftColumnGlue.toColumn(agg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    (value: Column) => GraftColumnGlue.toColumn(BloomFilterMightContain(
      Literal(bytes, BinaryType), GraftColumnGlue.toCatalystExpr(value)))
  }

  /** The STREAMING half of decontamination: a doc-level
    * "probably contaminated" predicate factory for an ingest filter.
    * Built ONCE from the (batch) benchmark, then applied per micro-batch
    * as pure column algebra — no state store, no stream-stream join; a
    * live feed drops (or quarantines) contaminated docs at ingest. By
    * construction ~fpp of clean docs false-positive — acceptable for an
    * ingest guard (they divert to quarantine, not to /dev/null); the
    * batch [[decontaminate]] pass stays the exact authority. */
  def contaminationProbe(benchmark: DataFrame, textCol: String, n: Int = 3,
                         fpp: Double = 0.01, expectedItems: Long = 0L): Column => Column = {
    // bloomPredicate runs TWO driver actions (sizing count + filter
    // build) — cache the shingle/explode/distinct frame across them,
    // the same discipline decontaminate applies to the identical frame
    val (bench, ownBench) = graft.ops.Caches.acquire(
      benchmark.select(explode(
        graft.functions.ShingleHashes.shingleHashes(
          Dedup.normText(col(textCol)), n)).as("s")).distinct())
    val pred =
      try bloomPredicate(bench, "s", fpp, expectedItems)
      finally { if (ownBench) bench.unpersist(false) }
    (text: Column) => exists(
      graft.functions.ShingleHashes.shingleHashes(Dedup.normText(text), n), pred)
  }

  /** Stratified [[hashSample]]: each stratum keeps rows at its own
    * md5-prefix rate (e.g. downsample English, keep all of a rare
    * language). Same determinism contract as hashSample — seed-free,
    * engine-portable, partition-invariant — and still map-only: the
    * CASE chain pushes into the scan like any other predicate. Strata
    * absent from `rates` are dropped (an explicit recipe, not a
    * passthrough: a training mixture enumerates its strata). */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
                       rates: Seq[(String, String)]): DataFrame = {
    require(rates.nonEmpty, "stratifiedSample needs at least one stratum rate")
    rates.foreach { case (_, hexCeil) => requireHexCeil(hexCeil) }
    val keep = rates.foldRight(lit(false)) { case ((stratum, hexCeil), acc) =>
      when(strata === stratum,
        substring(md5(key), 1, hexCeil.length) < hexCeil).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Deterministic corpus shuffle → shard assignment: the global
    * random-looking order a training run reads, as a PURE FUNCTION of
    * (key, salt) — shard = top 60 bits of md5(key:salt) mod numShards,
    * in-shard position = rank of a second independent md5. Re-running,
    * re-partitioning, or growing the cluster reproduces byte-identical
    * shards (a rand()/repartition shuffle never replays — useless for a
    * resumable data recipe, Kerf's determinism bar via q84). Map-only
    * plus the one per-shard window sort every sharded writer pays.
    * Scale note: the rank's parallelism IS numShards (one sort task per
    * shard), so pick numShards ≫ cores at scale — a 100 TB corpus wants
    * thousands of shards (which a data-parallel trainer wants anyway),
    * never 8; 8 shards on a huge corpus = 8 giant sort tasks. */
  def shardAssignment(df: DataFrame, key: Column, numShards: Int,
                      salt: String = "graft"): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    // conv() yields base-10 digits of the top 15 hex chars (< 2^60 — no
    // sign or overflow regime); both engines compute the same longs
    val h = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val keyed = df
      .withColumn("shard", pmod(h(concat(key, lit(":" + salt))), lit(numShards.toLong)))
      .withColumn("__ord", h(concat(key, lit(":" + salt + ":o"))))
    keyed.withColumn("pos",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("__ord"), key)))
      .drop("__ord")
  }

  /** The writer half of [[shardAssignment]]: one directory per shard
    * (`shard=k/`), rows inside each shard's files in shuffle order —
    * the layout a data-parallel trainer maps workers onto. Each shard
    * sorts independently (exchange on `shard`, in-partition sort), so
    * shards scale out; no global sort, no driver data. */
  def writeShards(df: DataFrame, key: Column, numShards: Int, path: String,
                  salt: String = "graft"): Unit =
    shardAssignment(df, key, numShards, salt)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Temperature-scaled mixture thresholds (the multilingual-sampling
    * recipe: flatten size skew so rare sources keep a HIGHER fraction).
    * Target mixture ∝ n^(1/T), so the per-row keep rate is n^(1/T−1) —
    * at T = 2, rate_i ∝ 1/√n_i, normalized so the rarest stratum keeps
    * everything: threshold_i = resolution · w_min / w_i with
    * w = max(floor(sqrt(count)), 1). ALL integer arithmetic after one
    * correctly-rounded IEEE sqrt, so any engine derives the identical
    * recipe from the identical counts (a float-pow recipe drifts by
    * ULPs across engines — not reproducible, q84's bar again).
    * Compose with [[temperatureMix]]; counts come from one count pass
    * (the recipe IS driver state, like any mixture spec). */
  def temperatureThresholds(counts: Seq[(String, Long)],
                            resolution: Long = 4096L): Seq[(String, Long)] = {
    require(counts.nonEmpty, "temperatureThresholds needs at least one source")
    val w = counts.map { case (tag, n) =>
      require(n >= 0, s"negative count for '$tag'")
      (tag, math.max(math.sqrt(n.toDouble).toLong, 1L))
    }
    val wMin = w.map(_._2).min
    w.map { case (tag, wi) => (tag, resolution * wMin / wi) }
  }

  /** Deterministic temperature-weighted mixture over strata of one
    * table: keep a row iff the integer value of md5(key)'s top 3 hex
    * chars (uniform on [0,4096)) falls under its stratum's
    * [[temperatureThresholds]] threshold. Map-only like
    * [[stratifiedSample]]; thresholds are literals in the plan.
    * `resolution` MUST match the one the thresholds were derived with —
    * the draw is uniform on [0, resolution), so a mismatch silently
    * warps every stratum's keep rate; hence the loud range check. */
  def temperatureMix(df: DataFrame, strata: Column, key: Column,
                     thresholds: Seq[(String, Long)],
                     resolution: Long = 4096L): DataFrame = {
    require(thresholds.nonEmpty, "temperatureMix needs at least one stratum")
    require(resolution == 4096L,
      "temperatureMix draws u from md5's top 3 hex chars — uniform on " +
      s"[0,4096) only; thresholds built at resolution=$resolution would " +
      "silently warp keep rates (derive them at 4096, the default)")
    thresholds.foreach { case (tag, t) =>
      require(t >= 0 && t <= resolution,
        s"threshold $t for '$tag' is outside [0,$resolution] — built " +
        "with a different resolution than this draw")
    }
    val u = conv(substring(md5(key), 1, 3), 16, 10).cast("long")
    val keep = thresholds.foldRight(lit(false)) { case ((stratum, t), acc) =>
      when(strata === stratum, u < lit(t)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Tokenize (whitespace-normalized) and cut into consecutive
    * `tokensPerSeg`-token segments, numbered by in-doc position. The
    * shared staging pass under [[repeatedSegments]] /
    * [[dropRepeatedSegments]]. */
  private def segmented(docs: DataFrame, idCol: String, textCol: String,
                        tokensPerSeg: Int): DataFrame = {
    require(tokensPerSeg > 0, s"tokensPerSeg must be positive, got $tokensPerSeg")
    val k = tokensPerSeg
    val toks = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    // sequence(0, n) is INCLUSIVE and runs DESCENDING when n < 0, so the
    // empty-doc case must short-circuit before the bound goes negative
    // the k-token grouping is ONE native codegen loop (r18 structural-net
    // fallback removal: the transform/array_join lambda ran interpreted
    // per document); the empty-doc short-circuit stays OUTSIDE because
    // split("") yields [""] — one phantom empty segment — not []
    val segs = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(graft.functions.ArrayKernels.segmentsOf(toks, k))
    docs.select(col(idCol).as("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
  }

  /** Corpus-frequent text segments: every `tokensPerSeg`-token segment
    * that occurs in at least `minDocs` DISTINCT documents, with its doc
    * frequency. This is the boilerplate census — headers, license
    * blurbs, navigation chrome — and at corpus scale its result is
    * SMALL (boilerplate is by definition few distinct strings repeated
    * often) while its input is everything. One distinct-shuffle on
    * (segment, doc) + one partial-agg count on segment. */
  def repeatedSegments(docs: DataFrame, idCol: String, textCol: String,
                       tokensPerSeg: Int = 10, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    segmented(docs, idCol, textCol, tokensPerSeg)
      .select(col("seg"), col("doc_id")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Repeated-span removal — the intra-corpus cousin of exact dedup:
    * delete every segment that [[repeatedSegments]] flags as occurring
    * in ≥ `minDocs` documents, then reassemble each document from its
    * surviving segments in original order (single-space joined over the
    * normalized tokenization). Documents whose every segment was
    * boilerplate disappear entirely — an empty document has no place in
    * a training corpus.
    *
    * Scale shape: the census (above) + an anti-join of ALL segments
    * against the SMALL frequent set — left to AQE, which converts it to
    * a broadcast join exactly when the census result is genuinely small
    * and degrades to a safe shuffle join when a pathological corpus
    * makes boilerplate huge — + one reassembly shuffle on doc id. No
    * driver-side state at any size. Exact, not sketched: unlike
    * MinHash/SimHash doc-level near-dup, span removal edits GOOD
    * documents, so false positives destroy data — this pass must only
    * fire on provably repeated spans. */
  def dropRepeatedSegments(docs: DataFrame, idCol: String, textCol: String,
                           tokensPerSeg: Int = 10, minDocs: Int = 2): DataFrame = {
    // the tokenize+explode pass runs TWICE (census input + anti-join
    // left) — deliberately: caching it would pin a corpus-SIZED frame
    // for the life of the caller's lazy plan (the output stays lazy by
    // design), and two map-only passes beat pinning tokenized text at
    // the 100 TB point. The census result itself is boilerplate-sized.
    val frequent = repeatedSegments(docs, idCol, textCol, tokensPerSeg, minDocs)
      .select(col("seg"))
    segmented(docs, idCol, textCol, tokensPerSeg)
      .join(frequent, Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
        x => x.getField("seg"))).as("text"))
  }

  /** Per-stratum quota cap — the "at most N pages per domain" rule every
    * crawl pipeline applies: keep the `maxRows` rows of each stratum
    * that sort first by md5(key) (a deterministic, engine-portable
    * "random" N — same contract as [[hashSample]], and ties broken by
    * the key itself so the cut is total). Unlike a RATE sample, the cap
    * is an absolute ceiling: a 10M-page domain and a 200-page domain
    * both emit ≤ N.
    *
    * Scale shape: one shuffle on the stratum, and the rank predicate is
    * the form Spark's WindowGroupLimit rewrites into a per-map-task
    * partial top-N BEFORE the exchange — a hot domain ships ~N·tasks
    * rows, not its full page count (pinned in PlanSpec). */
  def capPerStratum(df: DataFrame, strata: Column, key: Column,
                    maxRows: Int): DataFrame = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(strata).orderBy(md5(key), key)))
      .filter(col("__rk") <= maxRows)
      .drop("__rk")
  }
}
