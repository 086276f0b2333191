package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines (BASELINE north-star),
  * built on the reference's SET/hash machinery re-expressed distributed:
  * Kerf dedups on append into hashed sets (/root/reference/
  * presented.cc:475–503, hash.cc:1–145 — a seeded xxhash-style stream
  * hash); here the "set" is a shuffle-partitioned groupBy and the hash is
  * Spark's built-in xxhash64 (same family), so everything stays inside
  * whole-stage codegen — no UDFs, no driver-side state, 100 TB-safe.
  */
object Dedup {

  /** Canonical text form shared by all dedup flavors: lowercase, collapse
    * whitespace runs, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup: one hash-shuffle; keeps the min-id row per distinct
    * normalized text. ≈ `dropDuplicates` but with a deterministic winner
    * (dropDuplicates keeps an arbitrary row) and a group-size column. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(normText(col(textCol))).as("text_key"))
      .agg(min(col(idCol)).as("keep_id"),
           count(lit(1)).as("group_size"))

  /** EXACT dedup of a BINARY column — content-hash dedup of media blobs
    * (the first pass every image/audio corpus runs: byte-identical
    * downloads collapse before any decode happens). Same min-id-witness
    * partial-agg shape as [[exact]]; the md5 runs over the raw bytes, so
    * no codec is involved and a 100 TB blob store dedups at scan speed.
    * One hash shuffle, group state is (hash, min, count). */
  def exactBinary(docs: DataFrame, idCol: String, binCol: String): DataFrame =
    docs.groupBy(md5(col(binCol)).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"),
           count(lit(1)).as("group_size"))

  /** EDIT-DISTANCE near-dup pairs via PREFIX BLOCKING — the fuzzy-match
    * member of the dedup family (title/name matching, where token-set
    * measures miss single-character typos): candidates are generated
    * inside blocks keyed by the first `prefixLen` chars of the
    * normalized text, pre-filtered by the length band (|len a − len b| ≤
    * maxDist is a lower bound on edit distance — a free pushed
    * predicate), and verified with exact Levenshtein.
    *
    * Recall CONTRACT, stated not hidden: a pair whose first edit falls
    * inside the prefix lands in different blocks and is missed — the
    * standard blocking tradeoff. Content-level near-dup belongs to
    * MinHash/SimHash; this operator is for short strings where edit
    * distance is the right metric.
    *
    * Scale shape (the minhashPairs discipline): the block key is an
    * equi-shuffle key (no all-pairs anywhere); degenerate blocks
    * (boilerplate prefixes) are capped by `maxBlock` with the same
    * broadcast anti-join skew guard as the LSH bucket cap, so worst-case
    * block cost is bounded at maxBlock² regardless of data skew. */
  def fuzzyPairs(docs: DataFrame, idCol: String, textCol: String,
                 maxDist: Int = 3, prefixLen: Int = 8,
                 maxBlock: Int = 256): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val keyed = docs.select(col(idCol).as("doc_id"),
        normText(col(textCol)).as("__t"))
      .withColumn("__blk", substring(col("__t"), 1, prefixLen))
    val oversize = keyed.groupBy(col("__blk"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBlock)
    val blocked = keyed.join(broadcast(oversize.select(col("__blk"))),
      Seq("__blk"), "left_anti")
    val a = blocked.select(col("__blk"), col("doc_id").as("id_a"), col("__t").as("__ta"))
    val b = blocked.select(col("__blk"), col("doc_id").as("id_b"), col("__t").as("__tb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      // THRESHOLDED levenshtein: the banded O(len·maxDist) algorithm
      // with early exit (-1 once the distance provably exceeds the
      // bound) — the verify is the quadratic part of the operator, and
      // most candidate pairs are far apart, so the bound does the work
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Word-token array of normalized text — stage this as a real column
    * before calling [[shinglesFromTokens]]: lambdas re-evaluate referenced
    * expression trees per element (no CSE inside higher-order functions),
    * so inlining the tokenization would re-run the regex per shingle. */
  /** Whitespace tokens of the normalized text. `split("")` yields the
    * single-element `[""]`, so the empty-string removal makes an EMPTY
    * doc produce ZERO tokens (a no-op for any non-empty doc: the
    * normalized text is trimmed and single-spaced, so "" can only be
    * the phantom) — otherwise a phantom "" token gives every empty doc
    * the same nonzero simhash (they'd all pair at hamming 0 and could
    * drag real docs into their cluster) and skews every unigram
    * census. The BPE family filters length>0 separately; this closes
    * the same trap for the rest of the token consumers.
    *
    * `array_remove`, NOT `filter(_, t => length(t) > 0)`: higher-order
    * functions are CodegenFallback — the r15 lambda spelling dropped
    * every text pipeline out of whole-stage codegen and cost the
    * q136/q140/q153 family 20–27% (r16 A/B at the r14 commit);
    * array_remove is a native codegen'd expression with the identical
    * result on trimmed single-spaced input. */
  def tokens(c: Column): Column =
    array_remove(split(normText(c), " "), "")

  /** Word n-gram shingles from a materialized token-array attribute. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Convenience one-shot (only for already-staged or tiny inputs). */
  def shingles(c: Column, n: Int = 3): Column = shinglesFromTokens(tokens(c), n)

  /** MinHash signature: for seed s, min over shingle hashes of
    * xxhash64(s, h). Expects a PRE-HASHED long-array column (see
    * [[shingleHashes]]): hashing each shingle string once and re-hashing
    * the 8-byte longs per seed is ~H× cheaper than re-hashing strings.
    * Computed by the native [[graft.functions.MinHashSignature]]
    * expression — one fused (shingle × seed) primitive loop,
    * bit-identical to the column-algebra form below. */
  def minhashSignature(shingleHashesCol: Column, numHashes: Int): Column =
    graft.functions.MinHashSignature.minhashSignature(shingleHashesCol, numHashes)

  /** The column-algebra signature the native expression replaces —
    * xxhash64's variadic fold makes the leading literal act as the seed,
    * H independent hash families without any UDF. Kept as the
    * independent implementation the equivalence spec checks the native
    * expression against (and as documentation of the hash family). */
  private[graft] def minhashSignatureColumnAlgebra(shingleHashesCol: Column,
                                                   numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(shingleHashesCol, h => xxhash64(s, h))))

  /** One xxhash64 per shingle string — stage this before signatures. */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, sh => xxhash64(sh))

  /** Exact Jaccard of two DISTINCT-element arrays via inclusion-
    * exclusion: |A∪B| = |A|+|B|−|A∩B|, so the union array — the
    * expensive half of the naive intersect+union pair, a full combined
    * hash-set build per pair — is never materialized. Bit-identical to
    * size(intersect)/size(union) (same integer numerator/denominator,
    * same one double division); sound ONLY for distinct arrays, which
    * every producer here guarantees (ShingleHashes dedupes by first
    * occurrence, shinglesFromTokens applies array_distinct). */
  private[graft] def jaccardOfDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** MinHash + LSH banding: docs whose banded signatures collide become
    * candidate pairs; candidates are verified with exact Jaccard over the
    * shingle-hash sets. `maxBucket` caps pathological buckets
    * (boilerplate text) — the classic LSH skew guard at scale; oversize
    * buckets are dropped before any pair materializes.
    *
    * Cost model at 100 TB: shingle+sign is a map-only pass; only three
    * longs per banded row (doc_id, band_id, band_hash) enter the band
    * shuffle and self-join — the shingle-hash payload is re-joined ONLY
    * for surviving candidate pairs (≪ n²), so the big array column never
    * rides a wide shuffle. The skew guard is a partial-agg groupBy (map-
    * side combine), not a window sort.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, jaccardThreshold: Double = 0.7,
                   maxBucket: Int = 64): DataFrame = {
    val (result, caches) = minhashPairsPlan(docs, idCol, textCol,
      numHashes, bands, shingleN, jaccardThreshold, maxBucket)
    // the pair list (≪ n²) is materialized eagerly so the shingle/band
    // caches can be RELEASED here instead of pinning executor storage for
    // the session's lifetime (cache-scope contract, graft.ops.Caches).
    // The shingle and band caches fill inside this one action, so the
    // "verify" slice covers the whole cascade
    graft.tools.StageTimer.time("verify") {
      graft.ops.Caches.seal(result, caches: _*)
    }
  }

  /** The lazy plan behind [[minhashPairs]] plus the intermediate caches it
    * persists — exposed for plan-shape tests; production callers use the
    * sealed wrapper above. */
  private[graft] def minhashPairsPlan(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, jaccardThreshold: Double = 0.7,
                   maxBucket: Int = 64): (DataFrame, Seq[DataFrame]) = {
    // argument validation BEFORE the persist below — a throw after
    // registering the cache would leak a pinned CacheManager entry
    require(numHashes % bands == 0, "bands must divide numHashes")
    // shingle strings never exist at all: the native ShingleHashes
    // expression hashes token windows in place over the normalized
    // text's bytes (bit-identical to xxhash64 of the shingle string,
    // distinct by first occurrence — see functions/ShingleHashes).
    // Persisted: referenced once for signatures and twice for pair
    // verification, on different join keys each time, so exchange reuse
    // can never kick in and an unpersisted plan recomputes the shingling
    // 3× (MLlib's MinHashLSH caches at the same point; MEMORY_AND_DISK
    // spills rather than OOMs at scale).
    val hashed = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(normText(col(textCol)), shingleN).as("shh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairsFromHashSets(hashed, numHashes, bands, jaccardThreshold, maxBucket)
  }

  /** `(doc_id, shh)` → `(doc_id, band_id, band_hash)` — the LSH banding
    * projection shared by the batch engine and the persisted index.
    * Each band hash is its OWN top-level column referencing the staged
    * `sig` attribute: >1 top-level reference blocks CollapseProject from
    * inlining the H-min signature into the explode lambda, where it
    * would be re-evaluated once PER BAND (the no-CSE-in-lambda trap —
    * a transform(sequence(0,bands),…slice(sig)…) formulation recomputed
    * the whole signature `bands`× per doc). */
  private[graft] def bandedRows(hashed: DataFrame, numHashes: Int,
                                bands: Int): DataFrame = {
    val r = numHashes / bands
    require(numHashes % bands == 0, "bands must divide numHashes")
    hashed
      .select(col("doc_id"), minhashSignature(col("shh"), numHashes).as("sig"))
      .select(col("doc_id") +: (0 until bands).map(b =>
        xxhash64(lit(b), concat_ws(",", slice(col("sig"), b * r + 1, r)))
          .as(s"__band$b")): _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"__band$b")): _*))
          .as(Seq("band_id", "band_hash")))
  }

  /** The MinHash→band→bucket→verify engine over an ALREADY-HASHED set
    * column `(doc_id, shh: array<bigint>)` — the reusable lower half of
    * [[minhashPairsPlan]]: text shingles, media frame-hash sets, or any
    * other set-valued feature ride the same banding. The input MUST be
    * persisted by the caller (it is read 3×: signature + both verify
    * joins); it is returned in the caches list for release-after-seal. */
  private[graft] def pairsFromHashSets(hashed: DataFrame,
                   numHashes: Int, bands: Int,
                   jaccardThreshold: Double,
                   maxBucket: Int): (DataFrame, Seq[DataFrame]) = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // banded rows carry NOTHING but (doc_id, band_id, band_hash); also
    // persisted — read by the skew-guard aggregate and both self-join
    // sides (3×), and at 24 bytes/row it is far smaller than the docs.
    val banded = bandedRows(hashed, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // skew guard: degenerate buckets (boilerplate) are identified with a
    // cheap partial aggregate and anti-joined away; the oversize list is
    // tiny by construction so it broadcasts
    val oversize = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
    val bucketed = banded.join(broadcast(oversize.select(col("band_id"), col("band_hash"))),
      Seq("band_id", "band_hash"), "left_anti")

    val a = bucketed.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
    val b = bucketed.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact-Jaccard verification: shingle hashes re-enter only here, for
    // the candidate set (AQE broadcasts the small side at runtime)
    val verified = candidates
      .join(hashed.select(col("doc_id").as("id_a"), col("shh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("doc_id").as("id_b"), col("shh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardOfDistinct(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (verified, Seq(hashed, banded))
  }

  /** Connected components over a near-dup PAIR list → (id, cluster) with
    * cluster = the minimum id reachable from each node. Alternating
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round hangs
    * nodes directly off their neighborhood minimum, so path lengths
    * roughly HALVE per round — O(log n) rounds on any topology, with a
    * shrinking edge set, vs. O(component diameter) for naive min-label
    * propagation (a 100-deep boilerplate chain closes in ~7 rounds, not
    * 100). Every round is local-checkpointed (flat lineage, previous
    * round's storage released) and costs a bounded handful of shuffles
    * over the CURRENT edge set only.
    *
    * Convergence is a CONTRACT, not a hope: if `maxIters` rounds don't
    * reach the star fixpoint the call THROWS instead of silently
    * returning split clusters (which would make dropNearDuplicates keep
    * duplicates). The default bound covers graphs astronomically larger
    * than any corpus (2^50 nodes).
    *
    * This is the step a REAL dedup pipeline needs beyond pair lists: the
    * reference's set-dedup keeps one witness per equivalence class
    * (presented.cc:475–503); here the witness is min(id) per component. */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 50): DataFrame = {
    import graft.ops.Caches

    // large-star: for every node u, hang all its LARGER neighbors off the
    // minimum m of its closed neighborhood. Processes the symmetric view,
    // so every undirected edge is considered from both endpoints.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: orient big→small, then hang u and all its smaller
    // neighbors off the neighborhood minimum m (u's own edge re-emitted
    // via the v==m row; no self-loops survive).
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
                        least(col("u"), col("v")).as("v"))
      val mins = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(mins, Seq("u"))
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
                col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // STRUCTURAL convergence: e is a fixpoint of smallStar∘largeStar
    // exactly when it is a star forest — every child u appears in ONE
    // edge and never as a parent v. (⇒: a u with two parents is re-hung
    // on the smaller by smallStar; a node that is both child and parent
    // is a depth-2 chain that largeStar shortcuts — either way the edge
    // set changes. ⇐: on a star {(uᵢ→v)} with v < uᵢ — smallStar output
    // is always min-oriented — both stars re-emit the same edges.) At a
    // fixpoint the root is the component minimum: components are
    // preserved by every round, and the min node cannot be a child
    // (nothing smaller exists for it to hang from). Checking the
    // STRUCTURE instead of comparing round-over-round signatures
    // (r17 shape) detects the fixpoint on the round that REACHES it,
    // not one confirming round later — saving a full large+small-star
    // pass (4 shuffles + a checkpoint of the edge set) per clusters()
    // call, for one groupBy-limit-1 probe per round on the (shrinking,
    // already-checkpointed) edges.
    def isStarForest(d: DataFrame): Boolean = {
      d.select(col("u").as("n"), lit(1L).as("c"), lit(0L).as("p"))
        .union(d.select(col("v").as("n"), lit(0L).as("c"), lit(1L).as("p")))
        .groupBy(col("n"))
        .agg(sum(col("c")).as("nc"), sum(col("p")).as("np"))
        .filter(col("nc") > 1 || (col("nc") > 0 && col("np") > 0))
        .isEmpty
    }

    // round-boundary lineage truncation: localCheckpoint (executor-local
    // blocks, no FS round trip) is the local[*] default, but its blocks
    // are NOT fault-tolerant — on a real cluster an executor loss
    // mid-loop fails the job unrecoverable-by-lineage. When the session
    // has a RELIABLE checkpoint dir configured
    // (sparkContext.setCheckpointDir — the multi-executor deployment
    // posture), rounds checkpoint there instead, so the loop survives
    // executor loss at the cost of one FS write per round (the edge set
    // is pair-list-sized, orders of magnitude under the corpus).
    def roundCheckpoint(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    val init = pairs.select(col(idA).as("u"), col(idB).as("v"))
      .filter(col("u") =!= col("v"))
    var e = roundCheckpoint(smallStar(init))
    var iters = 0
    // disjoint-pair graphs (the common near-dup shape: replica↔original)
    // are already stars after the initial smallStar — zero loop rounds
    var converged = isStarForest(e)
    while (!converged && iters < maxIters) {
      val next = roundCheckpoint(smallStar(largeStar(e)))
      Caches.release(e)
      e = next
      converged = isStarForest(next)
      iters += 1
    }
    if (!converged) {
      Caches.release(e)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIters rounds — " +
        "refusing to emit split clusters (raise maxIters)")
    }
    // at the star fixpoint every edge is (member → component-min); the
    // centers label themselves
    val labels = e.select(col("u").as("id"), col("v").as("cluster"))
      .union(e.select(col("v").as("id"), col("v").as("cluster")))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    val out = Caches.seal(labels)
    Caches.release(e)
    out
  }

  /** Keep one witness per near-dup cluster: drops every doc whose id is
    * not its cluster's minimum. Docs in no pair are untouched. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, pairs: DataFrame,
                         idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = clusters(pairs, idA, idB)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE witness selection: keep the BEST doc per near-dup
    * cluster — max `scoreCol`, ties broken by min id — instead of the
    * arbitrary min-id member. This is the production semantic: when a
    * boilerplate cluster holds one full article and nine truncated
    * scrapes, the pipeline should keep the article regardless of which
    * id happens to be smallest (the reference keeps the FIRST-inserted
    * witness, presented.cc:475–503 — a fine tie rule for exact dups,
    * wrong for near-dups of unequal quality).
    *
    * Returns the winning doc rows (all original columns) plus the
    * `cluster` label and `n_members` size. Docs in no pair are their own
    * singleton cluster and survive unchanged.
    *
    * Shuffle shape at 100 TB: clusters() is O(log n) rounds over the
    * (tiny) pair graph; winner election is ONE partial-agg groupBy on
    * the cluster key — `min(struct(-score, id))` is associative, so each
    * map task compresses to one candidate per local cluster before
    * anything shuffles (never a window sort over the corpus). The final
    * id-equi-join re-attaches full doc rows to the (one-per-cluster)
    * winner list. `scoreCol` must be non-null (null structs would win
    * min() under NULLS FIRST); coalesce upstream if scores can be null. */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame,
                         idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // id-type-agnostic like the rest of the family (clusters labels in
    // the pairs' own id type): a cast-to-long here crashed string-id
    // corpora under ANSI — or worse, nulled every label with ANSI off
    // and collapsed the corpus to ONE winner
    val labels = graft.tools.StageTimer.time("cc") { clusters(pairs, idA, idB) }
      .select(col("id").as("__lid"), col("cluster"))
    val labeled = docs
      .join(labels, col(idCol) === col("__lid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val winners = labeled.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
           min(struct((-col(scoreCol).cast("double")).as("ns"),
                      col(idCol).as("wid"))).as("__w"))
      .select(col("cluster"), col("n_members"), col("__w").getField("wid").as("__keep"))
    docs.join(winners, col(idCol) === col("__keep"))
      .drop("__keep")
  }

  /** 64-bit SimHash signature from a STAGED token-hash array attribute
    * (stage via `transform(tokens(text), xxhash64)` — lambda bodies
    * re-evaluate referenced trees per element): sign-sum of token-hash
    * bits, one in-row aggregate per bit. Pure column algebra, so it runs
    * identically over batch and STREAMING frames. */
  /** 64-bit sign-sum of a token-hash array — the native codegen
    * expression ([[graft.functions.SimHash64]]: one fused token×bit
    * loop; the 64-aggregate column form below walked the array 64 times
    * through interpreted higher-order functions). */
  def simhashFromTokenHashes(tokenHashes: Column): Column =
    graft.functions.SimHash64.simhash64(tokenHashes)

  /** The column-algebra twin the native expression replaced — kept for
    * bit-identity adjudication (LlmOpsSpec pins native == this on the
    * fixture), the same twin discipline as minhashSignature. */
  private[graft] def simhashFromTokenHashesColumnAlgebra(tokenHashes: Column): Column =
    (0 until 64).map { i =>
      val bitSum = aggregate(tokenHashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** 64-bit SimHash: sign-sum of token-hash bits. MAP-ONLY: token hashes
    * stay an array column and each bit's ±1 sum is an in-row aggregate —
    * zero shuffles (an explode+groupBy formulation moved every token
    * through a 64-agg shuffle; this touches each doc exactly once, which
    * is also the right plan at 100 TB). Empty docs get signature 0. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), transform(col("__toks"), t => xxhash64(t)).as("__th"))
      .select(col("doc_id"), simhashFromTokenHashes(col("__th")).as("simhash"))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash: block on rotated 16-bit chunks (any pair
    * within hamming distance d<=3 shares at least one identical chunk of
    * four), verify with full hamming. Same shuffle discipline as LSH,
    * same cache-scope contract: intermediates released once the (tiny)
    * pair list is sealed. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val (result, caches) = simhashPairsPlan(docs, idCol, textCol, maxHamming, maxBucket)
    graft.ops.Caches.seal(result, caches: _*)
  }

  /** The lazy plan behind [[simhashPairs]] plus the intermediate caches it
    * persists — exposed for plan-shape tests; production callers use the
    * sealed wrapper above. `chunked` is read by the skew-guard aggregate
    * and (through the anti-join) both self-join sides — on different join
    * keys each time, so exchange reuse never applies and an unpersisted
    * plan recomputes the 64-bit sign-sum signature up to 4×. */
  private[graft] def simhashPairsPlan(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 256): (DataFrame, Seq[DataFrame]) =
    hammingPairsFromSigsPlan(simhash(docs, idCol, textCol), maxHamming, maxBucket)

  /** Chunk-blocked hamming pairs over ANY 64-bit signature frame
    * `(doc_id, simhash)` — the blocking engine behind [[simhashPairs]],
    * reused by perceptual media dedup ([[graft.llm.Multimodal]] aHash):
    * any pair within hamming d≤3 shares one identical 16-bit chunk of
    * four (pigeonhole), so candidates come from an equi-shuffle, never
    * an all-pairs product. */
  private[graft] def hammingPairsFromSigsPlan(sigs: DataFrame,
                   maxHamming: Int = 3, maxBucket: Int = 256): (DataFrame, Seq[DataFrame]) = {
    // the pigeonhole only holds through d=3 with four chunks: at d=4 a
    // pair can differ by one bit in EVERY chunk and is never a
    // candidate — a larger tolerance must be loud, not silently lossy
    require(maxHamming >= 0 && maxHamming <= 3,
      s"chunk blocking guarantees recall only for maxHamming <= 3 " +
      s"(4 chunks, pigeonhole), got $maxHamming")
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_id", "chunk")))
      .persist(graft.ops.Caches.lvl)
    // same partial-agg skew guard as minhashPairs: no window sort
    val oversize = chunked.groupBy(col("chunk_id"), col("chunk"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
    val guarded = chunked.join(broadcast(oversize.select(col("chunk_id"), col("chunk"))),
      Seq("chunk_id", "chunk"), "left_anti")
    val a = guarded.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("id_a"), col("simhash").as("sig_a"))
    val b = guarded.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("id_b"), col("simhash").as("sig_b"))
    val result = a.join(b, Seq("chunk_id", "chunk")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    (result, Seq(chunked))
  }

  // ------------------------------------------------------------------
  // Persisted, appendable MinHash-LSH index — INCREMENTAL dedup.
  //
  // The batch engine above re-shingles the whole corpus per run; at
  // 100 TB a daily ingest must instead probe the EXISTING corpus's
  // stored bands and append only its survivors. Layout (the rollup
  // folio's manifest-log protocol, [[graft.io.Folio.appendWithRollup]],
  // reused verbatim — a batch dir becomes visible only when a meta
  // version listing it publishes via the stage-and-swap, so a crashed
  // append is invisible and [[graft.io.Folio.rollupVacuum]] reaps it):
  //
  //   <path>/batches/b_<nano>/bands/  (band_id, band_hash, doc_id)
  //   <path>/batches/b_<nano>/sets/   (doc_id, shh array<bigint>)
  //   <path>/meta/vNNNNNNNN/_MANIFEST (visible batch dirs)
  //   <path>/meta/vNNNNNNNN/_PARAMS   (numHashes;bands;shingleN — probes
  //                                    read params from the STORE, so
  //                                    caller drift is impossible; an
  //                                    append with different params is a
  //                                    loud error)
  //
  // Probe plan shape (the 100 TB contract, pinned in DedupIndexSpec):
  // the stored band table NEVER shuffles — the new batch's bands
  // broadcast and the corpus side is filtered map-side (broadcast hash
  // join); shingle sets re-enter only for surviving candidate ids, also
  // via a broadcast of the (small) candidate list. Band files are
  // written sorted by (band_id, band_hash) so row-group min/max stats
  // prune non-colliding ranges before the join even sees them.
  // Contract: the probe BATCH is ≪ the corpus (its banded rows must fit
  // a broadcast); dedup WITHIN the batch is [[minhashPairs]] on the
  // batch alone.
  // ------------------------------------------------------------------

  /** Stored hash-family parameters: (numHashes, bands, feature). The
    * FEATURE string pins how set elements were produced ("text:3" =
    * 3-gram shingle hashes, "video:1" = stride-1 frame aHashes,
    * "audio:1024" = 1024-sample envelope hashes, …) — probing a text
    * index with video sets is a loud error, not a silent zero-recall. */
  private def indexParams(path: String): Option[(Int, Int, String)] =
    graft.io.Folio.currentVersion(s"$path/meta").flatMap { v =>
      val f = new java.io.File(s"$path/meta/$v", "_PARAMS")
      if (!f.isFile) None
      else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.split(";") match {
          case Array(nh, b, feat) => Some((nh.toInt, b.toInt, feat))
          case _ => None
        }
    }

  private[graft] def indexManifestForTest(path: String): Seq[String] =
    indexManifest(path)

  // the index shares the rollup folio's meta layout EXACTLY, so the
  // manifest read is Folio's — one protocol, one implementation
  private def indexManifest(path: String): Seq[String] =
    graft.io.Folio.rollupManifest(path)

  /** Feature-string for the text faces: 3-gram shingle hashes etc. */
  private def textFeature(shingleN: Int) = s"text:$shingleN"

  /** Append a pre-hashed SET frame `(doc_id, shh: array<bigint>)` to the
    * index — the feature-agnostic core: text shingles, video frame
    * hashes, audio envelope hashes all ride the same store, disambiguated
    * by the pinned `feature` string. Returns the manifested batch dir,
    * or "" when the batch was empty (tag published, nothing stored). */
  def indexAppendSets(sets: DataFrame, path: String, numHashes: Int,
                      bands: Int, feature: String,
                      commitTag: Option[String] = None): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(feature.nonEmpty && !feature.contains(";"),
      s"feature tag must be non-empty and ';'-free, got '$feature'")
    // CAS basis for the manifest read-modify-write below: a concurrent
    // appender (a manual `neardup … into` racing the indexIngestStream
    // sink on one path) that commits in between fails this writer's
    // publish loudly (ConcurrentPublishException) instead of letting
    // the second publish silently drop the first's manifest entry
    val base = graft.io.Folio.currentVersion(s"$path/meta")
    indexParams(path).foreach { case (nh, b, feat) =>
      require((nh, b, feat) == ((numHashes, bands, feature)),
        s"indexAppend: params ($numHashes,$bands,$feature) drift from the " +
        s"index's stored ($nh,$b,$feat) — an index has ONE hash family")
    }
    val bdir = s"$path/batches/b_${System.nanoTime()}"
    val hashed = sets.select(col("doc_id"), col("shh"))
      .persist(graft.ops.Caches.lvl)
    // an EMPTY batch (the steady state of a duplicate-heavy ingest
    // stream: every doc deduplicated away) publishes its commit tag but
    // manifests NO dir — the tag, not a dir, is what makes re-delivery
    // exactly-once, and N all-dup batches must not leave N empty dirs
    // for every future probe to list and footer-read
    val empty = try {
      val empty = hashed.isEmpty
      // bands and sets land in disjoint dirs off the same cached batch —
      // independent write jobs, submitted concurrently
      if (!empty) graft.ops.Par.both(
        // sorted-by-band files: row-group stats prune band_hash ranges at
        // probe time (the folio sorted-run discipline)
        bandedRows(hashed, numHashes, bands)
          .repartitionByRange(col("band_id"), col("band_hash"))
          .sortWithinPartitions("band_id", "band_hash")
          .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
          .parquet(s"$bdir/bands"),
        hashed.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
          .parquet(s"$bdir/sets"))
      empty
    } catch { case e: Throwable =>
      // a failed batch leaves no unmanifested dir behind for vacuum to reap
      graft.tools.Fs.deleteRecursively(new java.io.File(bdir)); throw e
    } finally hashed.unpersist()
    val manifest =
      (if (empty) indexManifest(path) else indexManifest(path) :+ bdir)
        .mkString("\n")
    graft.io.Folio.publishArtifactsFrom(s"$path/meta", base) { vdir =>
      java.nio.file.Files.write(new java.io.File(vdir, "_MANIFEST").toPath,
        manifest.getBytes("UTF-8"))
      java.nio.file.Files.write(new java.io.File(vdir, "_PARAMS").toPath,
        s"$numHashes;$bands;$feature".getBytes("UTF-8"))
      // the streaming sinks' exactly-once breadcrumbs — same meta layout
      // AND same writer (applied set carries forward on every publish,
      // tagged or not) as the rollup folios
      graft.io.Folio.writeCommitArtifacts(vdir, path, commitTag)
    }
    if (empty) "" else bdir
  }

  /** Append text `docs` to the persisted LSH index at `path` (creating
    * it on first use). One map-only pass computes shingle-hash sets and
    * banded signatures; the batch publishes atomically through the
    * manifest log. The caller is responsible for having probed/filtered
    * the batch first — append does not dedup. */
  def indexAppend(docs: DataFrame, idCol: String, textCol: String,
                  path: String, numHashes: Int = 32, bands: Int = 8,
                  shingleN: Int = 3,
                  commitTag: Option[String] = None): String =
    indexAppendSets(
      docs.select(col(idCol).as("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(
          normText(col(textCol)), shingleN).as("shh")),
      path, numHashes, bands, textFeature(shingleN), commitTag)

  /** STREAMING ingest with dedup-at-the-boundary — the reference's
    * dedup-on-append SET semantics (presented.cc:475–503) as the full
    * corpus loop: each micro-batch (1) drops docs already in the index
    * (probe ≥ `jaccardThreshold`), (2) collapses within-batch near-dup
    * clusters to their min-id witness, (3) appends the survivors — all
    * under the manifest-log's exactly-once commit tag ((writerId,
    * batchId) against the applied set, [[graft.io.Folio
    * .rollupCommitTags]]), so an at-least-once re-delivery never
    * double-indexes a batch. Input columns: (idCol, textCol). */
  def indexIngestStream(docs: DataFrame, idCol: String, textCol: String,
                        path: String, jaccardThreshold: Double = 0.7,
                        numHashes: Int = 32, bands: Int = 8,
                        shingleN: Int = 3,
                        checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.EventStream.taggedBatchSink(docs, path, checkpoint) {
      (batch, tag) =>
        val b = batch.persist(graft.ops.Caches.lvl)
        try {
          // (1) drop docs duplicating the EXISTING corpus
          val vsCorpus =
            if (graft.io.Folio.currentVersion(s"$path/meta").isEmpty) b
            else {
              val hits = indexProbe(b, idCol, textCol, path,
                jaccardThreshold)
              b.join(hits.select(col("id_b").as(idCol)).distinct(),
                Seq(idCol), "left_anti")
            }
          // (2) collapse within-batch clusters to one witness
          val pairs = minhashPairs(vsCorpus, idCol, textCol, numHashes,
            bands, shingleN, jaccardThreshold)
          val survivors = dropNearDuplicates(vsCorpus, idCol, pairs)
          // (3) commit — tag publishes atomically with the manifest
          indexAppend(survivors, idCol, textCol, path, numHashes, bands,
            shingleN, tag)
          ()
        } finally { b.unpersist(); () }
    }

  /** Probe the index with a NEW batch: returns (id_a = indexed doc,
    * id_b = new doc, jaccard) for every cross pair at or above
    * `jaccardThreshold` — the exact-Jaccard verify over candidate band
    * collisions, same semantics as [[minhashPairs]] restricted to
    * corpus×batch pairs. Params come from the store. The corpus's band
    * and set tables are read map-only (no shuffle — the batch
    * broadcasts); `maxBucket` drops oversize CANDIDATE buckets by their
    * total (corpus-side ∩ probe buckets + batch) population, the same
    * boilerplate skew guard as the batch engine. */
  def indexProbe(newDocs: DataFrame, idCol: String, textCol: String,
                 path: String, jaccardThreshold: Double = 0.7,
                 maxBucket: Int = 64): DataFrame = {
    val (verified, caches) = indexProbePlan(newDocs, idCol, textCol, path,
      jaccardThreshold, maxBucket)
    graft.ops.Caches.seal(verified, caches: _*)
  }

  /** Probe with a pre-hashed SET frame `(doc_id, shh)` — the feature-
    * agnostic core. `feature` must match the store's pinned tag: a probe
    * hashed differently than the corpus would silently return zero
    * recall, so the mismatch is a loud error instead. */
  def indexProbeSets(newSets: DataFrame, path: String, feature: String,
                     jaccardThreshold: Double = 0.7,
                     maxBucket: Int = 64): DataFrame = {
    val (verified, caches) = indexProbeSetsPlan(newSets, path, feature,
      jaccardThreshold, maxBucket)
    graft.ops.Caches.seal(verified, caches: _*)
  }

  /** The lazy plan behind [[indexProbe]] plus its pinned caches —
    * exposed for plan-shape tests (the seal materializes the result,
    * hiding the join shape from executedPlan). */
  private[graft] def indexProbePlan(newDocs: DataFrame, idCol: String,
                 textCol: String, path: String, jaccardThreshold: Double,
                 maxBucket: Int): (DataFrame, Seq[DataFrame]) = {
    val feat = indexParams(path).getOrElse(
      throw new IllegalArgumentException(s"no LSH index published at $path"))._3
    require(feat.startsWith("text:"),
      s"indexProbe is the TEXT face but the index at $path stores '$feat' " +
      "sets — probe with the matching face (indexProbeSets)")
    val shingleN = feat.stripPrefix("text:").toInt
    indexProbeSetsPlan(
      newDocs.select(col(idCol).as("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(
          normText(col(textCol)), shingleN).as("shh")),
      path, feat, jaccardThreshold, maxBucket)
  }

  private[graft] def indexProbeSetsPlan(newSets: DataFrame, path: String,
                 feature: String, jaccardThreshold: Double,
                 maxBucket: Int): (DataFrame, Seq[DataFrame]) = {
    val spark = newSets.sparkSession
    val (numHashes, bands, feat) = indexParams(path).getOrElse(
      throw new IllegalArgumentException(s"no LSH index published at $path"))
    require(feat == feature,
      s"indexProbe: probe sets are '$feature' but the index at $path " +
      s"stores '$feat' — one hash family per index")
    val dirs = indexManifest(path)
    // a PUBLISHED index can legitimately be empty: an all-duplicate
    // first batch appends no dir but does publish (params + empty
    // manifest + its commit tag), and the streaming ingest loop probes
    // before every append — an empty corpus has zero hits, not an
    // error. Only a missing/unpublished meta is loud (indexParams above).
    if (dirs.isEmpty) {
      val idT = newSets.schema("doc_id").dataType
      return (spark.range(0).select(
        lit(null).cast(idT).as("id_a"), lit(null).cast(idT).as("id_b"),
        lit(0.0).as("jaccard")), Seq.empty)
    }
    val corpusBands = spark.read.parquet(dirs.map(d => s"$d/bands"): _*)
    val corpusSets = spark.read.parquet(dirs.map(d => s"$d/sets"): _*)

    val newHashed = newSets.select(col("doc_id"), col("shh"))
      .persist(graft.ops.Caches.lvl)
    val newBanded = bandedRows(newHashed, numHashes, bands)
      .persist(graft.ops.Caches.lvl)

    // ONE batch-band broadcast, two consumers (r18): the semi-join
    // below and the candidates equi-join both broadcast the SAME
    // subplan — carrying id_b through the semi-join is free (left_semi
    // ignores non-key columns) and lets ReuseExchange ship one
    // broadcast instead of two builds of the same batch bands.
    val bandBcast = broadcast(newBanded.select(
      col("band_id"), col("band_hash"), col("doc_id").as("id_b")))

    // corpus side filtered MAP-SIDE by the broadcast batch bands — the
    // stored table never enters an exchange. PERSISTED: read by both the
    // skew-guard aggregate and the candidates join, and an unpersisted
    // plan would scan the (dominant) corpus band parquet twice per probe;
    // the hit set itself is tiny — colliding rows only.
    val hit = corpusBands
      .select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
      .join(bandBcast, Seq("band_id", "band_hash"), "left_semi")
      .persist(graft.ops.Caches.lvl)
    // skew guard over the SURVIVING buckets only (tiny by construction):
    // bucket population = corpus hits + batch rows, counted in ONE
    // aggregate over their union (r18 — replaces two aggregates and a
    // join). A batch-only bucket the union flags is vacuously absent
    // from `hit`, so the anti-join below is unchanged by it; a
    // corpus-only bucket never reaches `hit` (the semi-join requires a
    // batch collision), exactly as the old inner join excluded it.
    val oversize = hit.select(col("band_id"), col("band_hash"))
      .unionAll(newBanded.select(col("band_id"), col("band_hash")))
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select(col("band_id"), col("band_hash"))
    // candidates are consumed exactly once (the verify broadcast) — no
    // persist; the broadcast build materializes them.
    val candidates = hit
      .join(broadcast(oversize), Seq("band_id", "band_hash"), "left_anti")
      .join(bandBcast, Seq("band_id", "band_hash"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact-Jaccard verify: corpus sets scanned ONCE, map-only against
    // the broadcast candidate list; batch sets come from the local cache
    val verified = corpusSets
      .select(col("doc_id").as("id_a"), col("shh"))
      .join(broadcast(candidates), Seq("id_a"))
      .join(broadcast(newHashed.select(col("doc_id").as("id_b"), col("shh").as("sh_b"))),
        Seq("id_b"))
      .withColumn("jaccard", jaccardOfDistinct(col("shh"), col("sh_b")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (verified, Seq(newHashed, newBanded, hit))
  }
}
