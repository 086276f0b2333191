package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ShortType}

/** Embedding similarity search (BASELINE north-star). Two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (small side), candidates stream; per-query
  *    top-k via window rank. At 100 TB the candidate scan is
  *    embarrassingly parallel and nothing ever collects to the driver.
  *  - [[lshTopK]]: random-hyperplane LSH — sign-bit sketch over D fixed
  *    pseudo-random hyperplanes (seeded xxhash64 surrogate weights, so
  *    the "model" is pure column algebra, reproducible, shipped in the
  *    plan). Probe only colliding buckets → candidate set ≪ n, then exact
  *    cosine re-rank. The scale path: bucket shuffle replaces the full
  *    cross product.
  *
  * All arithmetic is double-precision left-to-right folds so results are
  * bit-reproducible across engines (the DuckDB oracle replicates the same
  * fold; its float32 builtin differs at 1e-7 and is NOT used).
  */
object Similarity {

  /** Σ a[i]*b[i], bit-identical to a deterministic L2R double fold —
    * computed by the native codegen expression [[graft.functions
    * .DotProduct]] (one fused primitive loop; the aggregate(zip_with(…))
    * formulation it replaced materialized a boxed product array per row
    * and evaluated interpreted, since higher-order functions are
    * CodegenFallback). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Embedding width probed from the first NON-NULL vector (a null
    * embedding in the first scanned row would make size() null and the
    * bare getInt NPE before any exclusion logic runs); empty input gets
    * the loud message, not an iterator error. */
  private def dimOf(df: DataFrame, vecCol: String): Int = {
    val r = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    require(r.nonEmpty, s"no non-null '$vecCol' vectors to probe the dimension from")
    r(0).getInt(0)
  }

  /** NaN-guarded: a zero-magnitude (or NaN-bearing) vector yields 0/0 =
    * NaN, which Spark orders GREATER than every number — unguarded, a
    * degenerate embedding would take the rank-1 slot in every top-k and
    * pass every `>= threshold` near-dup filter as a false pair (which
    * semDedup then DROPS — data loss). The −2 sentinel sits strictly
    * below the cosine range, so degenerates lose every ranking and fail
    * every threshold; null vectors stay null (excluded upstream). */
  def cosine(a: Column, b: Column): Column = {
    // try_divide: under ANSI a zero norm is DIVIDE_BY_ZERO mid-job, not
    // NaN — the degenerate row must lose the ranking, not kill the query
    val c = try_divide(try_divide(dot(a, b), norm(a)), norm(b))
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(coalesce(nanvl(c, lit(-2.0)), lit(-2.0)))
  }

  /** Exact top-k: for each row of `queries`, the k nearest of `candidates`
    * by cosine. Ranking uses cosine rounded to 6 dp with id tie-break —
    * deterministic across engines. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // NULL-vec rows drop on BOTH sides, matching the LSH/IVF faces
    // (which shed them via explode(null)): a null query would otherwise
    // emit k fabricated rows ranked purely by cand_id with sim = null —
    // two faces of one API must not disagree on the same input
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    sims.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplane weights, fixed at PLAN time —
    * they depend only on (plane index, dim index), never on the data, so
    * they ship as literal arrays instead of per-row hash evaluations
    * (the naive xxhash-per-element form cost 4096 hashes PER ROW). */
  private def planeWeights(plane: Int, dim: Int): Array[Double] = {
    val rnd = new scala.util.Random(0x9E3779B97F4A7C15L ^ plane.toLong)
    Array.fill(dim)(rnd.nextDouble() * 2 - 1)
  }

  /** All nPlanes hyperplane projections in ONE native pass against the
    * weight matrix ([[graft.functions.MatVecDots]] — the matrix rides as
    * a primitive double[][]; the `transform(typedLit(w), p => dot(vec,
    * p))` form it replaces drove each native dot through an interpreted
    * transform lambda, one boxed call per plane per row. Round-1 history:
    * 64 separate aggregate(zip_with(..)) expressions = 26s for 2,000
    * vectors; the transform form fixed the expression blow-up; this
    * removes the remaining CodegenFallback). */
  private def projections(vec: Column, nPlanes: Int, dim: Int, seedBase: Int = 0): Column =
    graft.functions.MatVecDots.matVecDots(vec,
      (seedBase until seedBase + nPlanes).map(i => planeWeights(i, dim)).toArray)

  /** Test probe for the private native path (same args as the twin). */
  private[graft] def projectionsProbe(vec: Column, nPlanes: Int, dim: Int,
                                      seedBase: Int = 0): Column =
    projections(vec, nPlanes, dim, seedBase)

  /** The transform-over-literal twin [[projections]] replaced — kept for
    * bit-identity adjudication (ExtensionSpec pins native == this). */
  private[graft] def projectionsColumnAlgebra(vec: Column, nPlanes: Int, dim: Int,
                                              seedBase: Int = 0): Column = {
    val w = typedLit((seedBase until seedBase + nPlanes).map(i => planeWeights(i, dim).toSeq))
    transform(w, p => dot(vec, p))
  }

  /** ALL per-table sketches in one native pass ([[graft.functions
    * .HyperplaneSketches]]: project → sign → pack fused over the
    * primitive weight matrix). The staged-projection + sibling-pack-
    * column dance this replaces existed to dodge the no-CSE-in-lambda
    * trap; with the whole map stage inside one expression the staging
    * discipline disappears with the fallback. */
  private def allSketches(vec: Column, nBits: Int, tables: Int, dim: Int): Column =
    graft.functions.HyperplaneSketches.sketches(vec,
      (0 until tables * nBits).map(i => planeWeights(i, dim)).toArray, nBits)

  /** Test probe for the private fused-sketch path. */
  private[graft] def allSketchesProbe(vec: Column, nBits: Int, tables: Int,
                                      dim: Int): Column =
    allSketches(vec, nBits, tables, dim)

  /** (table_id, sketch) rows from a staged `__sks` column: one
    * posexplode over the tiny per-table sketch array. NULL embeddings are
    * EXCLUDED here, explicitly: a null vector has no sketch (the native
    * expression yields null), and rows with no sketch do not belong in an
    * LSH index or probe set — bucketing them all at sketch 0 (what the
    * old staged pipeline did) made every null embedding collide with
    * every other and with real zero-sketch vectors. Documented on
    * [[cosineNearDupPairs]] and [[lshTopK]]. */
  private def perTableSketches(df: DataFrame, keep: Seq[Column]): DataFrame =
    df.filter(col("__sks").isNotNull)
      .select(keep :+
        posexplode(col("__sks")).as(Seq("table_id", "sketch")): _*)

  /** Sign-bit sketch against literal hyperplanes: bit i =
    * sign(Σ_j w(i,j)·v[j]); nBits ≤ 64, packed into one long. Same bit
    * layout as round 1 (bit i = plane seedBase+i), now computed via the
    * single-pass weight-matrix projection. */
  def hyperplaneSketch(vec: Column, nBits: Int, dim: Int, seedBase: Int = 0): Column = {
    val powers = typedLit((0 until nBits).map(1L << _))
    aggregate(zip_with(projections(vec, nBits, dim, seedBase), powers,
      (p, pw) => when(p > 0, pw).otherwise(0L)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** The LSH width DIAL as a function of corpus size: nBits =
    * ⌈log2(n / targetOccupancy)⌉, floored at the 10-bit default. Bucket
    * occupancy is what candidate cost scales with (pairs ≈ n·occupancy
    * per table), so holding it constant holds the op linear — measured
    * both ways in SCALING.md's round-6 curve: 200k vectors at the
    * fixture-sized default (occupancy ~195) cost 620s; at
    * autoNBits(200000)=14 (occupancy ~12) the same run cost 38.7s.
    * Callers with a known corpus size pass `nBits = autoNBits(n)`;
    * the default stays fixed so results are reproducible run-to-run
    * without a count pass. */
  def autoNBits(n: Long, targetOccupancy: Int = 16): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val buckets = math.max(1.0, n.toDouble / targetOccupancy)
    math.max(10, math.ceil(math.log(buckets) / math.log(2)).toInt)
  }

  /** Embedding-cosine NEAR-DUP PAIRS — the dedup flavor of similarity
    * (drop-near-duplicate-documents by embedding): LSH-bucketed candidate
    * generation (never all-pairs), exact-cosine verification, with the
    * same partial-agg skew guard as [[graft.llm.Dedup.minhashPairs]].
    * Banding rows carry (id, table, sketch) only — vectors re-enter for
    * the surviving candidates. Persisted for the same 3-reference reason
    * as minhash banding.
    *
    * Tuned for REAL near-duplicates (cos ≥ ~0.9): at nBits=10/tables=8 a
    * cos-0.95 pair collides in ≥1 table w.p. ≈0.97 while bucket occupancy
    * stays ~n/1024 per table, so candidates ≪ n². Lower nBits only if the
    * target threshold is far from 1 (recall/cost dial, same as any LSH).
    *
    * NULL embeddings are excluded from the index: a null vector has no
    * sketch and cosine against it is undefined, so such rows can never
    * appear in a pair. Filter or impute upstream if they must participate.
    *
    * `nBits = 0` (the SCALE-SAFE default): size the dial from the corpus
    * itself — one count() pass, then [[autoNBits]]. The measured swing at
    * 200k vectors is 16× (620s fixture-sized vs 38.7s auto-sized,
    * SCALING.md), so auto-sizing is the default and a FIXED width is the
    * expert option (reproducible without the count pass, e.g. when two
    * runs must band identically). */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
                         nBits: Int = 0, tables: Int = 8,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxBucket: Int = 256): DataFrame = {
    val (acq, ownDf) = graft.ops.Caches.acquire(df)
    val bits = if (nBits == 0) autoNBits(acq.count()) else nBits
    val dim = dimOf(acq, vecCol)
    val sk = perTableSketches(
      acq.select(col(idCol).as("vid"),
        allSketches(col(vecCol), bits, tables, dim).as("__sks")),
      Seq(col("vid")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oversize = sk.groupBy(col("table_id"), col("sketch"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
    val guarded = sk.join(broadcast(oversize.select(col("table_id"), col("sketch"))),
      Seq("table_id", "sketch"), "left_anti")
    val a = guarded.select(col("table_id"), col("sketch"), col("vid").as("id_a"))
    val b = guarded.select(col("table_id"), col("sketch"), col("vid").as("id_b"))
    val cands = a.join(b, Seq("table_id", "sketch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val verified = cands
      .join(acq.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(acq.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
    // pair list materialized eagerly so the sketch + input caches are
    // released rather than pinned for the session (see graft.ops.Caches)
    val out = graft.ops.Caches.seal(verified, sk)
    if (ownDf) acq.unpersist(false)
    out
  }

  // ----- int8 embedding quantization — the storage scale path -----

  /** Per-vector symmetric int8 quantization: `scale = max|v|/127`,
    * `q_i = floor(v_i/scale + 0.5)` clamped to ±127 (floor(x+0.5) is the
    * one rounding rule that is bit-identical across engines — no
    * HALF_EVEN/HALF_UP divergence). A 100 TB embedding store kept int8 is
    * 4× smaller on disk AND in shuffle — candidate scans/ANN probes read
    * a quarter of the bytes and re-rank survivors against the fp
    * original. Zero vectors quantize to all-zeros (scale 0). Map-only.
    *
    * Non-finite elements FAIL FAST (a NaN poisons scale silently; ±Inf
    * makes scale Inf and dequantize reconstructs all-NaN) — the check is
    * folded into the scale computation itself: maxAbs is NaN/Inf iff
    * some element is, so the guard costs zero extra passes. The whole
    * codec runs as native codegen expressions ([[graft.functions
    * .Int8Codec]]); the column-algebra form it replaces drove THREE
    * interpreted higher-order lambdas per row (an `exists` guard pass +
    * two `transform`s — CodegenFallback, one boxed call per element:
    * the r16 q104 3.2× regression). */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
        graft.functions.Int8Codec.scaleOf(col(vecCol),
          col(idCol).cast("string")).as("scale"),
        col(vecCol).as("__v"))
      .select(col(idCol), col("scale"),
        graft.functions.Int8Codec.codesOf(col("__v"), col("scale")).as("q"))

  /** The column-algebra twin [[quantizeInt8]] replaced — kept for
    * bit-identity adjudication (ExtensionSpec pins native == this),
    * with the same scalar-scale guard (test the already-computed max,
    * never a second per-element `exists` pass) and the same null-element
    * contract: null element → null code. (The ORIGINAL column form
    * silently coerced a null element to +127 — `least(127.0, null)`
    * SKIPS nulls rather than propagating — i.e. a corrupted element
    * became the max-magnitude code; the codec rewrite fixed that to
    * honest null propagation on both faces.) */
  private[graft] def quantizeInt8ColumnAlgebra(df: DataFrame, idCol: String = "vec_id",
                                               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
        (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / 127.0)
          .as("__rawscale"),
        col(vecCol).as("__v"))
      .select(col(idCol),
        when(isnan(col("__rawscale")) || col("__rawscale") > lit(Double.MaxValue),
            raise_error(concat(
              lit("quantizeInt8: non-finite element in vector of "),
              col(idCol).cast("string"), lit(" — fix upstream embeddings"))))
          .otherwise(col("__rawscale")).as("scale"),
        col("__v"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0,
            transform(col("__v"), x =>
              when(x.isNull, lit(null).cast("int")).otherwise(lit(0).cast("int"))))
          .otherwise(transform(col("__v"), x =>
            when(x.isNull, lit(null).cast("int")).otherwise(
              greatest(lit(-127.0), least(lit(127.0),
                floor(x.cast("double") / col("scale") + 0.5))).cast("int"))))
          .as("q"))

  /** Reconstruct doubles from an int8 quantization (native codegen). */
  def dequantize(q: Column, scale: Column): Column =
    graft.functions.Int8Codec.dequantize(q, scale)

  /** Column-algebra dequantize twin (ExtensionSpec bit-parity pin). */
  private[graft] def dequantizeColumnAlgebra(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Per-group elementwise MEAN of vectors — chunk→document pooling (a
    * long doc is embedded in chunks; its retrieval vector is the mean).
    * Shuffle shape at 100 TB: posexplode → partial-agg groupBy on
    * (group, pos) — map-side combine compresses each partition to
    * |groups|·dim running sums before anything travels — then one tiny
    * (|groups|·dim)-row reassembly groupBy. Never collects vectors into
    * per-group state (a collect_list formulation holds every chunk of a
    * group in one aggregation buffer — the OOM shape).
    *
    * Dimension contract: every vector in a group must have the SAME
    * non-zero length. A ragged group would silently average trailing
    * positions over fewer contributors — dimension drift in a 100 TB
    * embedding store is a real failure mode — so the reassembly FAILS
    * FAST instead of emitting a plausible wrong mean. Two drift shapes
    * are caught: unequal non-empty lengths (per-position counts
    * diverge) and EMPTY or NULL vectors (a plain posexplode would drop
    * them without a trace — `posexplode_outer` turns each into a
    * null-position row the guard sees). */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("group_key"),
        posexplode_outer(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col("group_key"), col("__pos"))
      .agg(avg(col("__x").cast("double")).as("__m"),
           count(lit(1)).as("__n"),
           // a null ELEMENT inside a vector: avg would silently skip it
           // and present a fewer-contributor mean as the full mean —
           // the third drift shape the fail-fast contract covers
           max(when(col("__pos").isNotNull && col("__x").isNull, 1)
             .otherwise(0)).as("__null_elem"))
      .groupBy(col("group_key"))
      .agg(transform(array_sort(collect_list(
               when(col("__pos").isNotNull, struct(col("__pos"), col("__m"))))),
             s => s.getField("__m")).as("pooled"),
           min(when(col("__pos").isNotNull, col("__n"))).as("__n_min"),
           max(when(col("__pos").isNotNull, col("__n"))).as("__n_max"),
           max(when(col("__pos").isNull, 1).otherwise(0)).as("__has_empty"),
           max(col("__null_elem")).as("__has_null_elem"))
      .select(col("group_key"), col("pooled"),
        when(col("__has_empty") === 1, raise_error(concat(
            lit("meanPool: group "), col("group_key").cast("string"),
            lit(" contains an empty or null vector — fix upstream embedding failures"))))
          .when(col("__has_null_elem") === 1, raise_error(concat(
            lit("meanPool: group "), col("group_key").cast("string"),
            lit(" contains a NULL element inside a vector — the mean would " +
                "silently average fewer contributors; fix upstream"))))
          .when(col("__n_min") === col("__n_max"), col("__n_max"))
          .otherwise(raise_error(concat(
            lit("meanPool: ragged group "), col("group_key").cast("string"),
            lit(" — vectors have unequal lengths (per-position counts "),
            col("__n_min").cast("string"), lit(".."), col("__n_max").cast("string"),
            lit("); fix upstream embedding dimension drift"))))
          .as("n_vectors"))

  // ----- IVF (inverted-file) ANN — the second scale path -----

  /** Deterministic coarse quantizer: seed centroids = the nLists vectors
    * with the smallest xxhash64(id) — a seed-stable pseudo-random sample
    * that assumes NOTHING about the id distribution (dense, sparse,
    * hashed all work) and lowers to TakeOrderedAndProject (per-partition
    * top-n + driver merge, never a global sort). Refined by `iters`
    * Lloyd iterations (elementwise means via posexplode+groupBy — fully
    * distributed; only the nLists×dim centroid matrix ever reaches the
    * driver, which is the legitimate "model state" broadcast, ~16KB here,
    * ≤MBs at production nLists — PER PASS, never accumulated). Each
    * extra iteration costs one assignment+means scan of the candidates;
    * on the planted-margin fixture recall is already exact at iters=1
    * (LlmOpsSpec pins iters=2 equality), so extra passes are a dial for
    * genuinely unclustered production corpora, not a default.
    * `candidates` is scanned by the seed take, the assignment passes,
    * and the caller's probe join — cached for the call's duration unless
    * the caller already persisted it. */
  /** Driver-side total order for seed ids of ANY column type (the seed
    * rows were getLong'd before — a ClassCastException for int/string
    * id corpora): numerics by value (identical order to the old long
    * path), everything else by string form, types never interleaved. */
  private def seedOrderKey(v: Any): (Int, Long, Double, String) = v match {
    case n: java.lang.Long    => (0, n.longValue, 0.0, "")
    case n: java.lang.Integer => (0, n.longValue, 0.0, "")
    case n: java.lang.Short   => (0, n.longValue, 0.0, "")
    case n: java.lang.Byte    => (0, n.longValue, 0.0, "")
    case n: Number            => (1, 0L, n.doubleValue, "")
    case x                    => (2, 0L, 0.0, String.valueOf(x))
  }

  def trainCentroids(candidates: DataFrame, nLists: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     iters: Int = 1): Array[Array[Double]] = {
    import graft.ops.Caches
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (acq, own) = Caches.acquire(candidates)
    // NULL embeddings carry no geometry — excluded from seeding and the
    // Lloyd means, same contract as trainPQ/perTableSketches
    val cand = acq.filter(col(vecCol).isNotNull)
    val seedRows = cand
      .select(col(idCol).as("__sid"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(nLists)
      .collect()
    require(seedRows.nonEmpty, "no candidate vectors to seed centroids from")
    // list numbering = ascending seed id: deterministic regardless of
    // partitioning or hash order. Elements unbox via Number: float AND
    // double embedding columns both work (every other entry point casts
    // per-element already)
    val seeds = seedRows.sortBy(r => seedOrderKey(r.get(0)))
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val refined = (1 to iters).foldLeft(seeds) { (current, _) =>
      val assigned = assignLists(cand, current, idCol, vecCol)
      val means = assigned
        .select(col("list_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      // a list that lost every member this round keeps its previous
      // centroid (no mean rows) — standard empty-cluster handling
      val next = current.map(_.clone())
      means.foreach { r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) }
      next
    }
    if (own) acq.unpersist(false)
    refined
  }

  /** Unit-normalized centroid matrix: argmax cosine over centroids ==
    * argmax dot against unit centroids (row norm is a positive constant
    * per row), so assignment needs ONE fused matrix pass, not
    * |centroids| independent cosine expressions. */
  private def unitRows(centroids: Array[Array[Double]]): Array[Array[Double]] =
    centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / (if (n == 0.0) 1.0 else n))
    }

  /** Assign each vector to its nearest centroid (max cosine): one native
    * [[graft.functions.MatVecDots]] pass against the centroid matrix. */
  def assignLists(df: DataFrame, centroids: Array[Array[Double]],
                  idCol: String, vecCol: String): DataFrame = {
    df.withColumn("__sims",
        graft.functions.MatVecDots.matVecDots(col(vecCol), unitRows(centroids)))
      .withColumn("list_id",
        (array_position(col("__sims"), array_max(col("__sims"))) - 1).cast("int"))
      .drop("__sims")
  }

  /** IVF top-k: probe the nProbe nearest inverted lists per query, exact
    * cosine re-rank inside them. Cost = scan of |candidates|·nProbe/nLists
    * instead of |candidates| — the classic IVF recall/cost dial. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              iters: Int = 1): DataFrame = {
    val (out, caches) = ivfTopKPlan(queries, candidates, k, nLists, nProbe,
      idCol, vecCol, iters)
    graft.ops.Caches.seal(out, caches: _*)
  }

  /** The lazy plan behind [[ivfTopK]] — exposed for plan-shape tests
    * (see [[pqTopKPlan]]). */
  private[graft] def ivfTopKPlan(queries: DataFrame, candidates: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              iters: Int = 1): (DataFrame, Seq[DataFrame]) = {
    import graft.ops.Caches
    // one cache spans all three candidate passes (seed take, Lloyd means,
    // probe join); released once the — tiny — top-k result materializes
    val (cand, own) = Caches.acquire(candidates)
    val centroids = trainCentroids(cand, nLists, idCol, vecCol, iters)
    val nl = centroids.length // may be < nLists on tiny inputs
    val np = math.min(nProbe, nl)
    val lists = assignLists(cand, centroids, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"), col("list_id"))

    // per query: nProbe nearest centroids → explode to (q, probe list);
    // same single-pass staged projection as assignLists (ranking by dot
    // against unit centroids == ranking by cosine)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qsims",
        graft.functions.MatVecDots.matVecDots(col("q_vec"), unitRows(centroids)))
      .withColumn("probes",
        graft.functions.ArrayKernels.topKIndices(col("__qsims"), np))
      .withColumn("list_id", explode(col("probes")))
      .drop("probes", "__qsims")

    val cands = lists.join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    val res = cands.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
    (res, if (own) Seq(cand) else Nil)
  }

  // ----- persistent IVF index: train once, probe forever -----

  /** PERSIST an IVF index at `path` — the production ANN posture: pay
    * the training/assignment passes ONCE, then every query batch probes
    * the stored layout. On disk:
    *  - `centroids.json`: the nLists×dim model (KBs — Jackson, the
    *    checkpoint-JSON convention of the chunk feed);
    *  - `lists/`: candidates PARTITIONED BY `list_id` — so a probe of
    *    nProbe lists PRUNES at the directory level (static
    *    `PartitionFilters`, no catalog, no DPP reliance): the scan reads
    *    ~nProbe/nLists of the corpus from disk, which at 100 TB is the
    *    difference between an index and a full pass. */
  def writeIvfIndex(candidates: DataFrame, path: String, nLists: Int = 16,
                    iters: Int = 1,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    halfPrecision: Boolean = false): Unit = graft.tools.StageTimer.time("build") {
    import graft.ops.Caches
    val (cand, own) = Caches.acquire(candidates)
    val centroids = trainCentroids(cand, nLists, idCol, vecCol, iters)
    // optional fp16 STORAGE tier (FLOAT1_ARRAY, enums.h:196): list
    // vectors land as binary16 bit patterns — half the float32 page
    // bytes on the probe scan. SELF-DESCRIBING: the tier is the stored
    // element type (array<smallint>), no side-channel metadata — probes
    // and appends detect it from the schema.
    val storedVec =
      if (halfPrecision) graft.functions.Half.pack(col(vecCol)).as(vecCol)
      else col(vecCol)
    // fp16 tier: ASSIGN in the decode domain too — the probe ranks its
    // lists with the fp16-quantized query (symmetric cosine), so a
    // boundary vector assigned by its fp32 form could live in a list
    // the quantized twin never probes (a planted replica would vanish
    // from the candidate set). Quantize-then-assign restores symmetry.
    val assignSrc =
      if (halfPrecision)
        cand.filter(col(vecCol).isNotNull).withColumn(vecCol,
          graft.functions.Half.unpack(graft.functions.Half.pack(col(vecCol))))
      else cand.filter(col(vecCol).isNotNull)
    // stage-and-swap (Folio `_CURRENT` protocol): model JSON and list
    // data land together in one immutable version dir, so a re-train
    // can never leave a probe reading new centroids over old lists
    graft.io.Folio.publishArtifacts(path) { vdir =>
      assignLists(assignSrc, centroids, idCol, vecCol)
        .select(col(idCol), storedVec, col("list_id"))
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$vdir/lists")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.write(
        new java.io.File(vdir, "centroids.json").toPath,
        om.writeValueAsBytes(centroids))
    }
    if (own) cand.unpersist(false)
  }

  /** Whether a stored vector column rides the fp16 tier (the element
    * type IS the metadata). */
  private def isHalfStored(df: DataFrame, vecCol: String): Boolean =
    df.schema(vecCol).dataType match {
      case ArrayType(ShortType, _) => true
      case _ => false
    }

  /** Resolve the LIVE artifact root of a versioned index (written under
    * the Folio `_CURRENT` protocol); a legacy flat index resolves to the
    * path itself — both layouts stay readable. */
  def indexRoot(path: String): String =
    graft.io.Folio.currentVersion(path).map(v => s"$path/$v").getOrElse(path)

  /** The stored centroid model of [[writeIvfIndex]]. */
  def readIvfCentroids(path: String): Array[Array[Double]] =
    readCentroidsFromRoot(indexRoot(path), path)

  private def readCentroidsFromRoot(root: String, path: String): Array[Array[Double]] = {
    val f = new java.io.File(root, "centroids.json")
    require(f.isFile, s"no IVF index at $path (centroids.json missing)")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(java.nio.file.Files.readAllBytes(f.toPath),
        classOf[Array[Array[Double]]])
  }

  /** INCREMENTAL index maintenance: assign a NEW batch against the
    * STORED centroid model and append its rows into the `list_id`
    * partition dirs — the index stays fresh without retraining (the
    * standard IVF posture: the coarse quantizer drifts slowly; re-train
    * via [[writeIvfIndex]] on a cadence, append between). Appends are
    * eventually-visible per file commit, same contract as
    * [[graft.io.Folio.appendPartition]]. NULL embeddings are skipped
    * (no geometry — the index-wide contract).
    *
    * APPEND × RETRAIN: the documented cadence posture makes these two
    * different jobs, so the single-writer protocol alone doesn't cover
    * the race. The call re-resolves `_CURRENT` AFTER the append lands
    * and fails loudly if a retrain published mid-append — the appended
    * rows sit in the just-superseded version (kept on disk as the
    * fallback) and would otherwise be silently absent from every later
    * probe. On that error, re-run the append: the stored model is
    * re-read from the NEW version. */
  def appendToIvfIndex(batch: DataFrame, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // ONE root resolution: centroids and lists must come from the same
    // immutable version even if a re-train publishes mid-call
    val root = indexRoot(path)
    val centroids = readCentroidsFromRoot(root, path)
    // match the stored tier: appending float rows into an fp16 index
    // (or vice versa) would fail parquet schema merge at read time
    val storedHalf = isHalfStored(
      batch.sparkSession.read.parquet(s"$root/lists"), vecCol)
    val storedVec =
      if (storedHalf) graft.functions.Half.pack(col(vecCol)).as(vecCol)
      else col(vecCol)
    // assign in the DECODE domain on an fp16 index (same symmetry rule
    // as writeIvfIndex: the probe ranks with the quantized query)
    val assignSrc =
      if (storedHalf)
        batch.filter(col(vecCol).isNotNull).withColumn(vecCol,
          graft.functions.Half.unpack(graft.functions.Half.pack(col(vecCol))))
      else batch.filter(col(vecCol).isNotNull)
    assignLists(assignSrc, centroids, idCol, vecCol)
      .select(col(idCol), storedVec, col("list_id"))
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$root/lists")
    val rootAfter = indexRoot(path)
    if (rootAfter != root)
      throw new IllegalStateException(
        s"appendToIvfIndex: a re-train republished $path mid-append " +
        s"(was $root, now $rootAfter) — the appended rows landed in the " +
        "superseded version and are invisible to the live index; re-run " +
        "the append against the new version")
  }

  /** Probe a persisted IVF index: same probe-join shape as [[ivfTopK]]
    * but with NO training pass and a STATIC partition-pruned scan — the
    * distinct probed list ids (≤ nLists ints, bounded by construction)
    * become an `isin` literal the planner turns into `PartitionFilters`
    * (pinned in PlanSpec). The "open" stage slice times the driver side
    * of a probe: version resolution, the model read and the probed-list
    * collect; the scan runs later, in the caller's action. */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = graft.tools.StageTimer.time("open") {
    // ONE root resolution: model and data from the same immutable
    // version — two resolutions could straddle a concurrent republish
    val root = indexRoot(path)
    val centroids = readCentroidsFromRoot(root, path)
    val nl = centroids.length
    val np = math.min(nProbe, nl)
    val listsRaw = spark.read.parquet(s"$root/lists")
    // fp16-tier index: decode stored vectors at scan, and quantize the
    // QUERY through the same tier so both sides compare in the decode
    // domain (symmetric quantization — an identical planted vector
    // still scores cosine exactly 1.0 against its replica)
    val half = isHalfStored(listsRaw, vecCol)
    val qVec =
      if (half) graft.functions.Half.unpack(graft.functions.Half.pack(col(vecCol)))
      else col(vecCol)
    val q = queries
      .select(col(idCol).as("q_id"), qVec.as("q_vec"))
      .withColumn("__qsims",
        graft.functions.MatVecDots.matVecDots(col("q_vec"), unitRows(centroids)))
      .withColumn("probes",
        graft.functions.ArrayKernels.topKIndices(col("__qsims"), np))
      .withColumn("list_id", explode(col("probes")))
      .drop("probes", "__qsims")
    // NOTE: the probed-list collect below and the candidate join both
    // evaluate this query-side plan (a MatVecDots pass per query row —
    // cheap; queries are probe-batch-sized). Callers with a
    // NONDETERMINISTIC query source must persist it first, or the isin
    // filter and the joined rows could disagree.
    val probed = q.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val candVec =
      if (half) graft.functions.Half.unpack(col(vecCol)) else col(vecCol)
    val lists = listsRaw
      .filter(col("list_id").isin(probed: _*))
      .select(col(idCol).as("cand_id"), candVec.as("cand_vec"), col("list_id"))
    // excludeSelf is the kNN default (a vector is trivially its own
    // nearest neighbor); the DEDUP face turns it OFF — an at-least-once
    // re-delivery of the SAME id must still match its stored copy, or
    // the ingest loop would re-append it (r14 review finding)
    val joined = lists.join(broadcast(q), Seq("list_id"))
    val cands = (if (excludeSelf) joined.filter(col("q_id") =!= col("cand_id"))
                 else joined)
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    cands.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
  }

  /** INCREMENTAL semantic dedup against the persisted IVF index — the
    * embedding-space sibling of [[graft.llm.Dedup.indexProbe]] (and the
    * third incremental modality next to the lexical LSH and media
    * stores): a new batch's vectors probe the STORED corpus index, and
    * any whose nearest stored neighbor reaches `tau` cosine is a
    * semantic duplicate of it. k = 1 is the dedup decision (ANY match
    * suffices, and the nearest one is the witness); cost per batch is
    * the ivfTopKIndexed probe — ~nProbe/nLists of the corpus scanned,
    * no training pass, corpus vectors never shuffle. The ingest loop is
    * probe → filter → [[appendToIvfIndex]] survivors, and a recall
    * escape exists by construction: an identical or near-identical
    * vector coarse-assigns to the same centroid as its stored twin, so
    * it lands in the FIRST probe list (the q133/q143 closed form).
    * Unlike the kNN faces, the probe does NOT exclude same-id pairs: a
    * re-delivered row whose id already lives in the index IS a
    * duplicate of its stored copy and must be flagged, not re-appended.
    * Returns (id_a = stored corpus id, id_b = new id, cos). */
  def semDedupProbe(spark: SparkSession, path: String, newVecs: DataFrame,
                    tau: Double = 0.9, nProbe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    ivfTopKIndexed(spark, path, newVecs, k = 1, nProbe, idCol, vecCol,
        excludeSelf = false)
      .filter(col("sim") >= tau)
      .select(col("cand_id").as("id_a"), col("q_id").as("id_b"),
        col("sim").as("cos"))

  /** REALTIME RETRIEVAL against a persisted IVF index: probe with a
    * STREAM of query vectors. Each micro-batch runs the stored-layout
    * probe ([[ivfTopKIndexed]] — static directory pruning, no training
    * pass) and hands the scored top-k frame to `sink` (production: a
    * Kafka topic / result table; tests: a buffer). The index build is
    * amortized across the stream's lifetime — the query-side cost per
    * batch is the probe of ~nProbe/nLists of the corpus, which is the
    * whole point of shipping the index to realtime. foreachBatch is the
    * right seam (not a stream-static join): the probed list set is a
    * per-batch DRIVER decision (the static `isin` the planner prunes
    * on), which a declarative join could not re-plan per batch. */
  def ivfProbeStream(queries: DataFrame, path: String, k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     options: Map[String, String] = Map.empty)
                    (sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    val w = options.foldLeft(queries.writeStream.outputMode("append")) {
      case (b, (key, v)) => b.option(key, v) }
    w.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(ivfTopKIndexed(spark, path, batch, k, nProbe, idCol, vecCol))
        ()
      }
      .start()
  }

  /** REALTIME INGESTION into a persisted IVF index — the other half of
    * the realtime corpus loop ([[ivfProbeStream]] is the query side):
    * each micro-batch of arriving embeddings is assigned against the
    * STORED centroid model and appended into the live version's
    * `list_id` dirs via [[appendToIvfIndex]]. Rows are retrievable by
    * the NEXT probe batch (per-file-commit visibility — the probe scan
    * lists the partition dirs fresh each batch; StreamingSpec pins it).
    * The stored tier is preserved (fp16 lists stay fp16). foreachBatch
    * is the seam for the same reason as the probe side: assignment
    * against the model is a per-batch driver decision, and the
    * append-vs-retrain race check (appendToIvfIndex's `_CURRENT`
    * re-resolution) fails the STREAM loudly — the restart re-reads the
    * new model, which is exactly the cadenced-retrain contract. The
    * coarse quantizer itself drifts only at retrain: this stream keeps
    * the corpus fresh, not the model (COVERAGE.md's cadence posture). */
  def ivfAppendStream(embeddings: DataFrame, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // pass options = Map("checkpointLocation" -> …) in production: on a
    // TEMPORARY checkpoint a restart forgets its offsets and an
    // at-least-once source re-delivers rows the index already holds —
    // mode("append") would then store duplicates every probe returns
    // twice. With a durable checkpoint the source replays only the
    // uncommitted batch (the usual exactly-once-per-checkpoint story).
    val w = options.foldLeft(embeddings.writeStream.outputMode("append")) {
      case (b, (key, v)) => b.option(key, v) }
    w.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) appendToIvfIndex(batch, path, idCol, vecCol)
        ()
      }
      .start()
  }

  // ----- Product quantization (PQ) — the extreme-compression ANN tier -----

  /** Train per-subspace PQ codebooks: the vector is split into `m`
    * contiguous subspaces of dim/m dims; each subspace gets `ksub`
    * codewords (k-means in the subspace). A coded vector is m small ints
    * (codes fit a byte at ksub ≤ 256) instead of dim floats — 32× smaller
    * than float32 at m=8/dim=64, which is the 100 TB story: the ANN
    * candidate scan reads m bytes per vector, not 4·dim.
    *
    * Same determinism discipline as [[trainCentroids]]: seeds are the
    * `ksub` vectors with the smallest xxhash64(id) (seed-stable under any
    * id distribution, TakeOrderedAndProject — never a global sort), each
    * split into its m subvectors; `iters` Lloyd passes refine per-subspace
    * by distributed (sub, code, pos) means. Driver state is ONLY the
    * m×ksub×(dim/m) codebook matrix (= dim·ksub doubles, ~8 KB here, ≤MBs
    * at production ksub=256/dim=1024) per pass, never accumulated. A
    * codeword that loses every member keeps its previous position
    * (standard empty-cluster handling). */
  def trainPQ(candidates: DataFrame, m: Int = 8, ksub: Int = 16,
              idCol: String = "vec_id", vecCol: String = "embedding",
              iters: Int = 1): Array[Array[Array[Double]]] = {
    import graft.ops.Caches
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(m >= 1 && ksub >= 2, s"need m >= 1 and ksub >= 2, got m=$m ksub=$ksub")
    val (acq, own) = Caches.acquire(candidates)
    // NULL embeddings carry no geometry: they can neither seed a codebook
    // (getSeq on null NPEs) nor contribute to a subspace mean — excluded
    // here exactly as perTableSketches excludes them from LSH indexes.
    val cand = acq.filter(col(vecCol).isNotNull)
    val dim = dimOf(cand, vecCol)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val seedRows = cand
      .select(col(idCol).as("__sid"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(ksub)
      .collect()
    require(seedRows.nonEmpty, "no candidate vectors to seed PQ codebooks from")
    val seedVecs = seedRows.sortBy(r => seedOrderKey(r.get(0)))
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seedVecs.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 1 to iters) {
      // one scan: assign all m codes natively, then (sub, code, pos) means
      val means = cand
        .select(col(vecCol).as("__v"), pqCodes(col(vecCol), books).as("__codes"))
        .select(col("__v"), posexplode(col("__codes")).as(Seq("sub_id", "code")))
        .select(col("sub_id"), col("code"),
          posexplode(slice(col("__v"), col("sub_id") * dsub + 1, lit(dsub)))
            .as(Seq("pos", "x")))
        .groupBy(col("sub_id"), col("code"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    if (own) acq.unpersist(false)
    books
  }

  /** PQ-encode a vector against trained codebooks: array of m code ints,
    * code s = argmin_k ‖v_s − c_{s,k}‖² — computed as argmax of
    * (v_s·c − ‖c‖²/2) so each subspace is ONE native [[graft.functions
    * .MatVecDots]] pass (m fused passes total, exactly m·ksub·dsub mults
    * per row — the optimal count). Ties break to the lowest code
    * (array_position finds the first max). Map-only, codegen end-to-end. */
  def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqKernels.pqEncode(vec, books)

  /** The column-algebra twin [[pqCodes]] replaced (r18 structural-net
    * fallback removal) — kept for bit-identity adjudication
    * (ExtensionSpec pins native == this across all null regimes). */
  private[graft] def pqCodesColumnAlgebra(vec: Column,
                                          books: Array[Array[Array[Double]]]): Column = {
    val dsub = books(0)(0).length
    array(books.indices.map { s =>
      val cb = books(s)
      val half = cb.map(c => c.map(x => x * x).sum / 2.0)
      val adj = zip_with(
        graft.functions.MatVecDots.matVecDots(slice(vec, s * dsub + 1, dsub), cb),
        typedLit(half.toSeq), (d, h) => d - h)
      (array_position(adj, array_max(adj)) - 1).cast("int")
    }: _*)
  }

  /** Reconstruct the (lossy) vector a code array stands for: concatenate
    * each subspace's codeword. The dequantize analog for PQ storage. */
  def pqDecode(codes: Column, books: Array[Array[Array[Double]]]): Column =
    flatten(zip_with(codes,
      typedLit(books.map(_.map(_.toSeq).toSeq).toSeq),
      (c, cb) => element_at(cb, c + 1)))

  /** PQ top-k via ADC (asymmetric distance computation): candidates are
    * scanned as CODES ONLY (m ints — the 32× I/O shrink); each query
    * precomputes a lookup table lut[s][k] = ‖c_{s,k}‖²/2 − q_s·c_{s,k}
    * (ranking by Σ_s lut[s][code_s] ≡ ranking by true L2 distance to the
    * reconstruction, the per-query ‖q_s‖² constant dropped), broadcast
    * with the queries; ADC per candidate is then m array lookups — no
    * float vector math in the scan. The top `rerank` ADC survivors per
    * query re-enter with their ORIGINAL vectors for exact-cosine
    * re-ranking (survivors ≪ n join back by id — the original embedding
    * column never rides the scan).
    *
    * A query's exact replica always survives the prefilter: its codes
    * minimize every lut row, so its ADC is the global minimum.
    * Determinism and tie rules follow [[bruteForceTopK]] (round-6dp
    * cosine, id tie-break); NULL-embedding candidates are EXCLUDED from
    * the coded index (as LSH excludes them from sketches) — brute force
    * sorts their null sims last, so the two agree whenever k ≤ the
    * non-null candidate count. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, rerank: Int = 32,
             idCol: String = "vec_id", vecCol: String = "embedding",
             iters: Int = 1): DataFrame = {
    val (out, caches) = pqTopKPlan(queries, candidates, k, m, ksub, rerank,
      idCol, vecCol, iters)
    graft.ops.Caches.seal(out, caches: _*)
  }

  /** The lazy plan behind [[pqTopK]] plus the caches it holds — exposed
    * for plan-shape tests (the sealed wrapper checkpoints the tiny
    * result, which hides the interior plan). */
  private[graft] def pqTopKPlan(queries: DataFrame, candidates: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, rerank: Int = 32,
             idCol: String = "vec_id", vecCol: String = "embedding",
             iters: Int = 1): (DataFrame, Seq[DataFrame]) = {
    import graft.ops.Caches
    val (cand, own) = Caches.acquire(candidates)
    val books = trainPQ(cand, m, ksub, idCol, vecCol, iters)
    // NULL embeddings are excluded from the index (as in perTableSketches):
    // a null vector encodes to non-null codes of nulls, whose NULL __adc
    // would sort NULLS FIRST into the prefilter's top slots.
    val coded = cand.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cand_id"),
        pqCodes(col(vecCol), books).as("__codes"))
    val q = pqQueryLut(queries, books, idCol, vecCol)
    val out = pqAdcProbe(coded, q, cand, k, rerank, idCol, vecCol)
    (out, if (own) Seq(cand) else Nil)
  }

  /** Per-query ADC lookup table over the codebooks (shared by the
    * train-per-call and persisted-index PQ paths). */
  private def pqQueryLut(queries: DataFrame, books: Array[Array[Array[Double]]],
                         idCol: String, vecCol: String): DataFrame = {
    val dsub = books(0)(0).length
    queries
      // NULL-vec queries drop, matching the index side (line above) and
      // the LSH/IVF faces: a null q_vec would produce a NULL __adc for
      // every candidate, which sorts NULLS FIRST straight into the
      // prefilter's top slots — k fabricated survivors per null query
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__lut", array(books.indices.map { s =>
        val cb = books(s)
        val half = cb.map(c => c.map(x => x * x).sum / 2.0)
        graft.functions.PqKernels.subFromConst(
          graft.functions.MatVecDots.matVecDots(
            slice(col("q_vec"), s * dsub + 1, dsub), cb), half)
      }: _*))
  }

  /** The codes-only ADC scan + exact re-rank (shared probe tail): scan
    * `coded` against the broadcast LUT, keep the top `rerank` per query,
    * join `originals` back by id for the exact-cosine final order. */
  private def pqAdcProbe(coded: DataFrame, q: DataFrame, originals: DataFrame,
                         k: Int, rerank: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val adc = coded.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("__adc",
        graft.functions.PqKernels.adcScore(col("__codes"), col("__lut")))
    val wPre = Window.partitionBy(col("q_id")).orderBy(col("__adc"), col("cand_id"))
    val survivors = adc.withColumn("__prk", row_number().over(wPre))
      .filter(col("__prk") <= math.max(rerank, k))
      .select(col("q_id"), col("q_vec"), col("cand_id"))
    val res = survivors
      .join(originals.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec")),
        Seq("cand_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    res.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
  }

  /** PERSIST a PQ index: codebook model (checkpoint-JSON) + the
    * CODES-ONLY corpus (m small ints per vector — the 32×-smaller scan
    * artifact is what lands on disk, so every later query batch reads
    * codes, never the float corpus). Originals stay wherever the corpus
    * lives; [[pqTopKIndexed]] joins them back only for the top-`rerank`
    * survivors. */
  def writePqIndex(candidates: DataFrame, path: String, m: Int = 8,
                   ksub: Int = 16, iters: Int = 1,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = graft.tools.StageTimer.time("build") {
    import graft.ops.Caches
    val (cand, own) = Caches.acquire(candidates)
    val books = trainPQ(cand, m, ksub, idCol, vecCol, iters)
    // stage-and-swap publish — same rationale as [[writeIvfIndex]]
    graft.io.Folio.publishArtifacts(path) { vdir =>
      cand.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("cand_id"),
          pqCodes(col(vecCol), books).as("__codes"))
        .write.mode("overwrite").parquet(s"$vdir/codes")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.write(
        new java.io.File(vdir, "codebooks.json").toPath,
        om.writeValueAsBytes(books))
    }
    if (own) cand.unpersist(false)
  }

  /** The stored codebook model of [[writePqIndex]]. */
  def readPqCodebooks(path: String): Array[Array[Array[Double]]] =
    readCodebooksFromRoot(indexRoot(path), path)

  private def readCodebooksFromRoot(root: String, path: String): Array[Array[Array[Double]]] = {
    val f = new java.io.File(root, "codebooks.json")
    require(f.isFile, s"no PQ index at $path (codebooks.json missing)")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(java.nio.file.Files.readAllBytes(f.toPath),
        classOf[Array[Array[Array[Double]]]])
  }

  /** Probe a persisted PQ index: no training, no encode pass — the scan
    * reads the stored codes (m ints/vector); `originals` (the corpus
    * table) joins back only for the top-`rerank` exact re-rank. */
  def pqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                    originals: DataFrame, k: Int, rerank: Int = 32,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = graft.tools.StageTimer.time("open") {
    val root = indexRoot(path) // one resolution (see ivfTopKIndexed)
    val books = readCodebooksFromRoot(root, path)
    val coded = spark.read.parquet(s"$root/codes")
    val q = pqQueryLut(queries, books, idCol, vecCol)
    pqAdcProbe(coded, q, originals, k, rerank, idCol, vecCol)
  }

  /** IVF-PQ: the COMPOSED scale path — IVF's probe dial × PQ's
    * compression dial, the standard very-large-scale ANN architecture.
    * Candidates are bucketed into inverted lists by the coarse quantizer
    * ([[trainCentroids]]/[[assignLists]]) and stored as PQ codes; a query
    * probes its nProbe nearest lists and ADC-scans ONLY those lists'
    * codes (scan cost = |candidates|·nProbe/nLists rows × m ints — the
    * two dials multiply); the top `rerank` survivors re-rank exact by
    * joining the original vectors back by id.
    *
    * Codes quantize the RAW vector, not the FAISS-style residual
    * (v − centroid): residual codebooks are centroid-conditional (nLists×
    * the training state) and the exact re-rank step already absorbs the
    * coarser approximation — the dial that matters here is scan bytes,
    * which is identical either way.
    *
    * A query's exact replica is structurally safe end-to-end: identical
    * vectors assign to the identical list (argmax with first-max ties),
    * which is also the query's first probe, and identical codes make its
    * ADC the global minimum within the scanned set. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                nLists: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 32,
                idCol: String = "vec_id", vecCol: String = "embedding",
                iters: Int = 1): DataFrame = {
    val (out, caches) = ivfPqTopKPlan(queries, candidates, k, nLists, nProbe,
      m, ksub, rerank, idCol, vecCol, iters)
    graft.ops.Caches.seal(out, caches: _*)
  }

  /** The lazy plan behind [[ivfPqTopK]] — see [[pqTopKPlan]]. */
  private[graft] def ivfPqTopKPlan(queries: DataFrame, candidates: DataFrame, k: Int,
                nLists: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 32,
                idCol: String = "vec_id", vecCol: String = "embedding",
                iters: Int = 1): (DataFrame, Seq[DataFrame]) = {
    val (cand, own, centroids, books, coded) =
      buildIvfPq(candidates, nLists, m, ksub, idCol, vecCol, iters)
    val dsub = books(0)(0).length
    val nl = centroids.length
    val np = math.min(nProbe, nl)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qsims",
        graft.functions.MatVecDots.matVecDots(col("q_vec"), unitRows(centroids)))
      .withColumn("probes",
        graft.functions.ArrayKernels.topKIndices(col("__qsims"), np))
      .withColumn("__lut", array(books.indices.map { s =>
        val cb = books(s)
        val half = cb.map(c => c.map(x => x * x).sum / 2.0)
        graft.functions.PqKernels.subFromConst(
          graft.functions.MatVecDots.matVecDots(
            slice(col("q_vec"), s * dsub + 1, dsub), cb), half)
      }: _*))
      .withColumn("list_id", explode(col("probes")))
      .drop("probes", "__qsims")
    val adc = coded.join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("__adc",
        graft.functions.PqKernels.adcScore(col("__codes"), col("__lut")))
    val wPre = Window.partitionBy(col("q_id")).orderBy(col("__adc"), col("cand_id"))
    val survivors = adc.withColumn("__prk", row_number().over(wPre))
      .filter(col("__prk") <= math.max(rerank, k))
      .select(col("q_id"), col("q_vec"), col("cand_id"))
    val res = survivors
      .join(cand.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec")),
        Seq("cand_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    val out = res.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
    (out, if (own) Seq(cand) else Nil)
  }

  /** Acquire `candidates`, train IVF-PQ's coarse centroids and PQ
    * codebooks on it, and plan the coded index. The two trainings are
    * INDEPENDENT Lloyd passes over the same cached candidates, so they
    * run concurrently: the second training's tasks back-fill the first's
    * collect tail instead of paying two sequential job latencies.
    * Returns the handle, whether this call owns its cache (released here
    * when a training throws), both trainings, and the lazy index
    * `(cand_id, list_id, __codes)` — m codes, no float vectors; NULL
    * embeddings are excluded as in pqTopKPlan (null __adc sorts first). */
  private def buildIvfPq(candidates: DataFrame, nLists: Int, m: Int, ksub: Int,
                         idCol: String, vecCol: String, iters: Int) = {
    val (cand, own) = graft.ops.Caches.acquire(candidates)
    val (centroids, books) = try graft.ops.Par.both(
        trainCentroids(cand, nLists, idCol, vecCol, iters),
        trainPQ(cand, m, ksub, idCol, vecCol, iters))
      catch { case e: Throwable => if (own) cand.unpersist(false); throw e }
    val coded = assignLists(cand.filter(col(vecCol).isNotNull), centroids, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("list_id"),
        pqCodes(col(vecCol), books).as("__codes"))
    (cand, own, centroids, books, coded)
  }

  /** PERSIST an IVF-PQ index — the on-disk form of the very-large-scale
    * architecture: coarse centroids + PQ codebooks (checkpoint-JSON) and
    * the codes-only corpus PARTITIONED BY `list_id`. A probe composes
    * BOTH storage wins: the scan is directory-pruned to the probed
    * lists (~nProbe/nLists of the files) AND each row read is m ints,
    * not dim floats — the dials multiply on disk exactly as they do in
    * memory. */
  def writeIvfPqIndex(candidates: DataFrame, path: String,
                      nLists: Int = 16, m: Int = 8, ksub: Int = 16,
                      iters: Int = 1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = graft.tools.StageTimer.time("build") {
    val (cand, own, centroids, books, coded) =
      buildIvfPq(candidates, nLists, m, ksub, idCol, vecCol, iters)
    // stage-and-swap publish — same rationale as [[writeIvfIndex]]
    try graft.io.Folio.publishArtifacts(path) { vdir =>
      coded.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$vdir/codes")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.write(
        new java.io.File(vdir, "centroids.json").toPath,
        om.writeValueAsBytes(centroids))
      java.nio.file.Files.write(
        new java.io.File(vdir, "codebooks.json").toPath,
        om.writeValueAsBytes(books))
    } finally if (own) cand.unpersist(false)
  }

  /** Probe a persisted IVF-PQ index: no training/assignment/encode pass;
    * the distinct probed lists become a static partition filter over the
    * codes store, the ADC runs on stored codes, and `originals` joins
    * back only for the exact re-rank. */
  def ivfPqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       originals: DataFrame, k: Int, nProbe: Int = 4,
                       rerank: Int = 32,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = graft.tools.StageTimer.time("open") {
    val root = indexRoot(path) // one resolution (see ivfTopKIndexed)
    val centroids = readCentroidsFromRoot(root, path)
    val books = readCodebooksFromRoot(root, path)
    val dsub = books(0)(0).length
    val nl = centroids.length
    val np = math.min(nProbe, nl)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qsims",
        graft.functions.MatVecDots.matVecDots(col("q_vec"), unitRows(centroids)))
      .withColumn("probes",
        graft.functions.ArrayKernels.topKIndices(col("__qsims"), np))
      .withColumn("__lut", array(books.indices.map { s =>
        val cb = books(s)
        val half = cb.map(c => c.map(x => x * x).sum / 2.0)
        graft.functions.PqKernels.subFromConst(
          graft.functions.MatVecDots.matVecDots(
            slice(col("q_vec"), s * dsub + 1, dsub), cb), half)
      }: _*))
      .withColumn("list_id", explode(col("probes")))
      .drop("probes", "__qsims")
    // same two-action caveat as ivfTopKIndexed: persist nondeterministic
    // query sources upstream
    val probed = q.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val coded = spark.read.parquet(s"$root/codes")
      .filter(col("list_id").isin(probed: _*))
    val adc = coded.join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("__adc",
        graft.functions.PqKernels.adcScore(col("__codes"), col("__lut")))
    val wPre = Window.partitionBy(col("q_id")).orderBy(col("__adc"), col("cand_id"))
    val survivors = adc.withColumn("__prk", row_number().over(wPre))
      .filter(col("__prk") <= math.max(rerank, k))
      .select(col("q_id"), col("q_vec"), col("cand_id"))
    val res = survivors
      .join(originals.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec")),
        Seq("cand_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    res.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
  }

  /** ANN via multi-probe hyperplane LSH: `tables` independent sketches of
    * `nBits` bits; pairs colliding in any table are candidates; exact
    * cosine re-rank keeps top-k. Recall grows with tables, cost with
    * bucket occupancy. All sketches are computed in ONE pass over the
    * un-exploded row, then unpacked. NULL embeddings are excluded from
    * both the candidate index and the probe set (no sketch, no bucket —
    * see [[cosineNearDupPairs]]).
    *
    * `nBits = 0` sizes the dial from the CANDIDATE corpus via
    * [[autoNBits]] (one count() pass) — the scale-safe default; pass a
    * fixed width to reproduce a specific banding (see
    * [[cosineNearDupPairs]]). */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nBits: Int = 0, tables: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bits = if (nBits == 0) autoNBits(candidates.count()) else nBits
    val dim = dimOf(queries, vecCol)
    // one fused sketch pass; identical bit layout to the chained
    // hyperplaneSketch with seedBase = t·nBits (pinned in ExtensionSpec)
    def sk(df: DataFrame, id: String, vec: String) =
      perTableSketches(
        df.select(col(idCol).as(id), col(vecCol).as(vec),
          allSketches(col(vecCol), bits, tables, dim).as("__sks")),
        Seq(col(id), col(vec)))

    val q = sk(queries, "q_id", "q_vec")
    val c = sk(candidates, "cand_id", "cand_vec")
    val cands = c.join(broadcast(q), Seq("table_id", "sketch"))
      .filter(col("q_id") =!= col("cand_id"))
      .dropDuplicates("q_id", "cand_id")
      .withColumn("sim", round(cosine(col("q_vec"), col("cand_vec")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand_id"))
    cands.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("cand_id"), col("sim"))
  }

  // ----- SemDeDup: cluster-then-prune semantic deduplication -----

  /** SemDeDup victims (Abbas et al. 2023, arXiv:2303.09540 — the
    * published cluster-then-prune recipe for semantic dedup of web-scale
    * training corpora): k-means-cluster the embeddings, then compute
    * exact cosine ONLY within each cluster and drop every vector that has
    * a lower-id cluster-mate at cosine ≥ `threshold`. Returns one row per
    * dropped vector: `(dropped_id, witness_id, cos)` where the witness is
    * the smallest qualifying id (deterministic min-struct partial agg,
    * same witness election as [[graft.llm.Dedup.keepBestPerCluster]]).
    *
    * Why this shape at 100 TB: the quadratic never touches the corpus —
    * pair generation is an equi-shuffle on `list_id`, so cost is
    * Σ|cluster|² with `nClusters` the dial (SemDeDup's own point: 50k
    * clusters over 5B embeddings keeps clusters ~100k). Clusters larger
    * than `maxCluster` pass through UN-deduped (conservative, same
    * recall-guard semantics as [[cosineNearDupPairs]]'s `maxBucket`:
    * a degenerate mega-cluster — embedding collapse, all-zero vectors —
    * would otherwise quadratically explode; the guard trades recall on
    * that cluster for a bounded plan, and the caller can re-run its
    * members with a larger `nClusters`).
    *
    * EXACT duplicates always land in the same cluster (assignment is a
    * pure function of the vector), so the guard never splits an
    * identical pair. NULL embeddings carry no geometry: never dropped,
    * never witnesses (the [[trainCentroids]]/[[pqCodes]] contract). */
  def semDedupVictims(df: DataFrame, threshold: Double,
                      nClusters: Int = 16, iters: Int = 1,
                      maxCluster: Int = 1 << 17,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (victims, caches) = semDedupVictimsPlan(df, threshold, nClusters,
      iters, maxCluster, idCol, vecCol)
    graft.ops.Caches.seal(victims, caches: _*)
  }

  /** The lazy plan behind [[semDedupVictims]] — exposed for plan-shape
    * tests (see [[ivfTopKPlan]]). */
  private[graft] def semDedupVictimsPlan(df: DataFrame, threshold: Double,
                      nClusters: Int = 16, iters: Int = 1,
                      maxCluster: Int = 1 << 17,
                      idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Seq[DataFrame]) = {
    val (pairs, caches) = semDedupPairsPlan(df, threshold, nClusters, iters,
      maxCluster, idCol, vecCol)
    val victims = pairs
      .groupBy(col("id_b"))
      .agg(min(struct(col("id_a"), col("cos"))).as("__w"))
      .select(col("id_b").as("dropped_id"),
              col("__w.id_a").as("witness_id"), col("__w.cos").as("cos"))
    (victims, caches)
  }

  /** The FULL in-cluster ≥τ pair list `(id_a, id_b, cos)` — the victim
    * form above collapses this to min-witness edges, which is enough for
    * min-id pruning but NOT for cluster membership: a node whose only
    * qualifying neighbors have larger ids generates no victim edge, yet
    * belongs to the component ([[semDedupKeepBest]] needs the real
    * graph). */
  private[graft] def semDedupPairsPlan(df: DataFrame, threshold: Double,
                      nClusters: Int = 16, iters: Int = 1,
                      maxCluster: Int = 1 << 17,
                      idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Seq[DataFrame]) = {
    import graft.ops.Caches
    val (acq, own) = Caches.acquire(df)
    val cand = acq.filter(col(vecCol).isNotNull)
    // train is eager (Lloyd passes collect centroids) so it gets its own
    // slice; assignment fills its cache lazily inside the pair stage
    val centroids = graft.tools.StageTimer.time("train") {
      trainCentroids(cand, nClusters, idCol, vecCol, iters)
    }
    val assigned = assignLists(cand, centroids, idCol, vecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("list_id"))
      .persist(Caches.lvl)
    val oversize = assigned.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxCluster)
    val guarded = assigned.join(broadcast(oversize.select(col("list_id"))),
      Seq("list_id"), "left_anti")
    val a = guarded.select(col("list_id"), col("__id").as("id_a"), col("__v").as("__va"))
    val b = guarded.select(col("list_id"), col("__id").as("id_b"), col("__v").as("__vb"))
    val pairs = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
    (pairs, if (own) Seq(assigned, acq) else Seq(assigned))
  }

  /** QUALITY-AWARE SemDeDup: instead of min-id pruning, keep the
    * best-`scoreCol` member of every semantic near-dup CLUSTER
    * (connected component of the full in-cluster ≥τ pair graph — the
    * same witness election as `neardup … keep best`:
    * [[graft.llm.Dedup.keepBestPerCluster]], ties → min id). Returns the
    * surviving rows of `df`. */
  def semDedupKeepBest(df: DataFrame, scoreCol: String, threshold: Double,
                       nClusters: Int = 16, iters: Int = 1,
                       maxCluster: Int = 1 << 17,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (pairs, caches) = semDedupPairsPlan(df, threshold, nClusters, iters,
      maxCluster, idCol, vecCol)
    val sealedPairs = graft.ops.Caches.seal(
      pairs.select(col("id_a"), col("id_b")), caches: _*)
    graft.llm.Dedup.keepBestPerCluster(df, idCol, scoreCol, sealedPairs)
  }

  /** SemDeDup survivors: the input minus [[semDedupVictims]] (anti-join
    * on a victim list orders of magnitude smaller than the corpus).
    * NULL-embedding rows pass through. */
  def semDedup(df: DataFrame, threshold: Double,
               nClusters: Int = 16, iters: Int = 1,
               maxCluster: Int = 1 << 17,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val victims = semDedupVictims(df, threshold, nClusters, iters,
      maxCluster, idCol, vecCol)
    df.join(victims.select(col("dropped_id").as(idCol)), Seq(idCol), "left_anti")
  }
}
