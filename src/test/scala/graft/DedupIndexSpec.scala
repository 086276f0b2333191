package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Persisted, appendable MinHash-LSH index — incremental dedup
  * (probe-then-append) must answer exactly like the batch engine run
  * over the union, while the stored corpus never re-shingles and never
  * shuffles. */
class DedupIndexSpec extends SparkSpec {

  private def docs() = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_lshidx").toString + "/idx"

  // documents + q29's parameters: threshold 0.2 — the band recall the
  // oracled batch query already proves total on this fixture
  private val (nh, nb, sn, thr) = (32, 8, 3, 0.2)

  test("incremental == batch: probe pairs equal the cross-subset of minhashPairs on the union") {
    val path = tmp()
    val corpus = docs().filter(col("doc_id") % 3 =!= 0)
    val batch = docs().filter(col("doc_id") % 3 === 0)
    Dedup.indexAppend(corpus, "doc_id", "text", path, nh, nb, sn)
    val got = Dedup.indexProbe(batch, "doc_id", "text", path, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // ground truth: the batch engine over the UNION, restricted to
    // corpus×batch pairs (either orientation — the index fixes id_a to
    // the indexed side)
    val all = Dedup.minhashPairs(docs(), "doc_id", "text", nh, nb, sn, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = all.flatMap { case (a, b, j) =>
      (a % 3, b % 3) match {
        case (0, x) if x != 0 => Some((b, a, j)) // indexed, new
        case (x, 0) if x != 0 => Some((a, b, j))
        case _                => None
      }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(want.nonEmpty, "fixture produced no cross pairs — test is vacuous")
    assert(got == want, s"got ${got.size} pairs, want ${want.size}\n" +
      s"got:  ${got.take(5)}\nwant: ${want.take(5)}")
  }

  test("append round trip: survivors appended, second probe finds them") {
    val path = tmp()
    val corpus = docs().filter(col("doc_id") < 100)
    Dedup.indexAppend(corpus, "doc_id", "text", path, nh, nb, sn)
    // re-probe the SAME docs under shifted ids: every doc must hit its
    // own indexed copy at jaccard exactly 1.0
    val replay = corpus.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val hits = Dedup.indexProbe(replay, "doc_id", "text", path, 0.99)
    val n = corpus.count()
    assert(hits.filter(col("id_b") === col("id_a") + 1000000L &&
                       col("jaccard") === 1.0).count() == n)
    // append a disjoint second batch; the manifest now serves BOTH
    val more = docs().filter(col("doc_id") >= 100 && col("doc_id") < 150)
    Dedup.indexAppend(more, "doc_id", "text", path, nh, nb, sn)
    val replay2 = more.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val hits2 = Dedup.indexProbe(replay2, "doc_id", "text", path, 0.99)
    assert(hits2.filter(col("id_b") === col("id_a") + 2000000L).count() == more.count())
  }

  test("param drift is loud; probing an unpublished path is loud") {
    val path = tmp()
    Dedup.indexAppend(docs().limit(10), "doc_id", "text", path, nh, nb, sn)
    val e = intercept[IllegalArgumentException] {
      Dedup.indexAppend(docs().limit(5), "doc_id", "text", path, 64, 16, sn)
    }
    assert(e.getMessage.contains("drift"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.indexProbe(docs().limit(5), "doc_id", "text", tmp())
    }
    assert(e2.getMessage.contains("no LSH index"), e2.getMessage)
  }

  test("crash orphan is invisible: an unmanifested batch dir never answers a probe") {
    val path = tmp()
    val corpus = docs().filter(col("doc_id") < 50)
    Dedup.indexAppend(corpus, "doc_id", "text", path, nh, nb, sn)
    val before = Dedup.indexProbe(
      corpus.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
      "doc_id", "text", path, 0.99).count()
    // simulate a crashed append: batch dir on disk, no manifest publish
    val orphanSrc = docs().filter(col("doc_id") >= 50 && col("doc_id") < 60)
    val bdir = s"$path/batches/b_${System.nanoTime()}"
    orphanSrc.select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(
          Dedup.normText(col("text")), sn).as("shh"))
      .write.parquet(s"$bdir/sets")
    Dedup.bandedRows(
        orphanSrc.select(col("doc_id"),
          graft.functions.ShingleHashes.shingleHashes(
            Dedup.normText(col("text")), sn).as("shh")), nh, nb)
      .write.parquet(s"$bdir/bands")
    // probe with the orphan's own docs: zero hits — the orphan is invisible
    val ghost = Dedup.indexProbe(
      orphanSrc.select((col("doc_id") + 600000L).as("doc_id"), col("text")),
      "doc_id", "text", path, 0.99)
    assert(ghost.filter(col("id_a") >= 50 && col("id_a") < 60).count() == 0,
      "unmanifested batch answered a probe")
    // and the original corpus still answers exactly as before
    val after = Dedup.indexProbe(
      corpus.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
      "doc_id", "text", path, 0.99).count()
    assert(after == before)
  }

  test("streaming ingest loop: probe → within-batch collapse → append, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val cp = java.nio.file.Files.createTempDirectory("graft_lsh_cp").toString
    val rows = docs().filter(col("doc_id") < 40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = llm.Dedup.indexIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", path,
      jaccardThreshold = 0.9, checkpoint = Some(cp))
    try {
      // batch 0: fixture docs plus an EXACT within-batch duplicate pair;
      // expectation computed with the BATCH engine (the fixture may hold
      // organic within-batch clusters of its own at this threshold)
      val dup = rows.head
      val b0 = rows :+ ((dup._1 + 900000L, dup._2))
      val b0df = b0.toDF("doc_id", "text")
      val expectB0 = llm.Dedup.dropNearDuplicates(b0df, "doc_id",
        llm.Dedup.minhashPairs(b0df, "doc_id", "text",
          jaccardThreshold = 0.9)).count()
      input.addData(b0: _*)
      q.processAllAvailable()
      val afterB0 = spark.read.parquet(
        llm.Dedup.indexManifestForTest(path).map(d => s"$d/sets"): _*)
      assert(afterB0.count() == expectB0)
      // the planted duplicate collapsed to the min-id witness
      assert(afterB0.filter(col("doc_id") === dup._1 + 900000L).count() == 0)
      // batch 1: re-sends of batch 0 under shifted ids + one doc that
      // cannot duplicate anything (synthetic distinct text)
      val fresh = (999999L,
        "zebra quantum affordance kumquat hyperbole meridian " +
        "ostinato fjord glyph tessellate umbra parallax")
      input.addData(rows.take(5).map { case (i, t) => (i + 800000L, t) }
        :+ fresh: _*)
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(
        llm.Dedup.indexManifestForTest(path).map(d => s"$d/sets"): _*)
      // corpus-probe dropped the 5 re-sends; only the fresh doc appended
      assert(afterB1.count() == expectB0 + 1)
      assert(afterB1.filter(col("doc_id") >= 800000L &&
                            col("doc_id") < 999999L).count() == 0)
      assert(afterB1.filter(col("doc_id") === 999999L).count() == 1)
    } finally q.stop()
    // both batches' tags applied, writer-scoped
    val tags = graft.io.Folio.rollupCommitTags(path)
    assert(tags.size == 1 &&
      tags.head.matches("stream-batch:[0-9a-f]{16}:1"), s"tags: $tags")
  }

  test("dialect faces: `neardup … into 'path'` appends, `… against 'path'` probes == API") {
    val path = tmp()
    docs().filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("corp_v")
    docs().filter(col("doc_id") % 3 === 0).createOrReplaceTempView("batch_v")
    val receipt = graft.sql.KerfSql.run(spark,
      s"neardup corp_v by doc_id on text into '$path'").collect()(0)
    assert(receipt.getString(0) == path && receipt.getLong(1) > 0)
    val got = graft.sql.KerfSql.run(spark,
      s"p_v: neardup batch_v by doc_id on text against '$path' within 0.2; " +
      "select id_a, id_b, jaccard from p_v order id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Dedup.indexProbe(docs().filter(col("doc_id") % 3 === 0),
        "doc_id", "text", path, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("media faces: video/audio sets ride the shared store; cross-feature probes are loud") {
    import spark.implicits._
    import graft.llm.Multimodal
    // three distinct synthetic videos; a re-encoded copy = same patterns
    val vids = Seq(
      (1L, Multimodal.synthGif(Seq(1, 2, 3))),
      (2L, Multimodal.synthGif(Seq(4, 5, 6))),
      (3L, Multimodal.synthGif(Seq(7, 8, 9)))).toDF("doc_id", "gif")
    val vPath = tmp()
    Multimodal.videoIndexAppend(vids, "doc_id", "gif", vPath)
    val copies = Seq((11L, Multimodal.synthGif(Seq(1, 2, 3))), // dup of 1
                     (12L, Multimodal.synthGif(Seq(9, 8, 7)))) // frames of 3, reordered
      .toDF("doc_id", "gif")
    val hits = Multimodal.videoIndexProbe(copies, "doc_id", "gif", vPath,
        jaccardThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2).toSeq
    // both collapse: hash SETS ignore frame order, so the re-order is a
    // perceptual dup too
    assert(hits == Seq((1L, 11L, 1.0), (3L, 12L, 1.0)), s"hits: $hits")
    // audio sets on their own store
    val auds = Seq((1L, Multimodal.synthWav(7L, 1.0)),
                   (2L, Multimodal.synthWav(8L, 1.0))).toDF("doc_id", "wav")
    val aPath = tmp()
    Multimodal.audioIndexAppend(auds, "doc_id", "wav", aPath)
    val rescaled = Seq((21L, Multimodal.synthWav(7L, 0.5))).toDF("doc_id", "wav")
    val ah = Multimodal.audioIndexProbe(rescaled, "doc_id", "wav", aPath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ah == Seq((1L, 21L)), s"audio hits: $ah") // volume-invariant
    // cross-feature probe: text probe against a video store is LOUD
    val e = intercept[IllegalArgumentException] {
      Dedup.indexProbe(docs().limit(3), "doc_id", "text", vPath)
    }
    assert(e.getMessage.contains("video"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.videoIndexProbe(copies, "doc_id", "gif", vPath, stride = 2)
    }
    assert(e2.getMessage.contains("video:1"), e2.getMessage)
  }

  test("streaming ingest: an ALL-duplicate batch still commits its tag (empty append, no re-apply)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val cp = java.nio.file.Files.createTempDirectory("graft_lsh_cp2").toString
    val rows = docs().filter(col("doc_id") < 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = llm.Dedup.indexIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", path,
      jaccardThreshold = 0.9, checkpoint = Some(cp))
    try {
      input.addData(rows: _*); q.processAllAvailable() // batch 0 seeds
      val n0 = spark.read.parquet(
        llm.Dedup.indexManifestForTest(path).map(d => s"$d/sets"): _*).count()
      // batch 1: ONLY re-sends — zero survivors, but the tag must land
      input.addData(rows.map { case (i, t) => (i + 100000L, t) }: _*)
      q.processAllAvailable()
      val n1 = spark.read.parquet(
        llm.Dedup.indexManifestForTest(path).map(d => s"$d/sets"): _*).count()
      assert(n1 == n0, s"all-dup batch appended rows: $n0 -> $n1")
      val tags = graft.io.Folio.rollupCommitTags(path)
      assert(tags.exists(_.endsWith(":1")),
        s"all-dup batch did not commit its tag: $tags")
      // and the (empty) manifested batch does not break later probes
      assert(llm.Dedup.indexProbe(
        rows.take(3).map { case (i, t) => (i + 200000L, t) }
          .toDF("doc_id", "text"),
        "doc_id", "text", path, 0.9).count() == 3)
    } finally q.stop()
  }

  test("rollupVacuum reaps an unmanifested LSH orphan and keeps every manifested batch (shared protocol)") {
    val path = tmp()
    Dedup.indexAppend(docs().limit(20), "doc_id", "text", path)
    Dedup.indexAppend(docs().filter(col("doc_id") >= 20).limit(10),
      "doc_id", "text", path)
    val manifested = Dedup.indexManifestForTest(path)
    assert(manifested.size == 2)
    // a crashed append's leftover: batch dir on disk, never manifested
    val orphan = s"$path/batches/b_${System.nanoTime()}"
    docs().limit(3).select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(
          Dedup.normText(col("text")), 3).as("shh"))
      .write.parquet(s"$orphan/sets")
    val reaped = graft.io.Folio.rollupVacuum(path, graceMs = 0)
    assert(reaped.contains(new java.io.File(orphan).getName),
      s"orphan not reaped: $reaped")
    assert(!new java.io.File(orphan).exists())
    manifested.foreach(d => assert(new java.io.File(d).isDirectory,
      s"vacuum deleted a manifested batch: $d"))
    // the index still answers correctly after the vacuum
    val replay = docs().limit(20)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    assert(Dedup.indexProbe(replay, "doc_id", "text", path, 0.99)
      .count() == 20)
  }

  test("plan pin: the stored band table never shuffles (batch broadcasts, corpus is map-side)") {
    val path = tmp()
    Dedup.indexAppend(docs().filter(col("doc_id") < 200), "doc_id", "text",
      path, nh, nb, sn)
    val (probe, caches) = Dedup.indexProbePlan(
      docs().filter(col("doc_id") >= 200).limit(50), "doc_id", "text", path,
      thr, 64)
    val plan = probe.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    // broadcast joins carry the corpus side without an exchange; the only
    // hash exchanges allowed are over BATCH-derived frames (banding's
    // dropDuplicates + the skew-guard partial agg), which are bounded by
    // the probe batch, never the corpus
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    val scanToExchange = plan.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange hashpartitioning") => i
    }.toSeq
    // the corpus parquet scans (bands/sets under the index path) must not
    // feed a hash exchange: check no Exchange consumes a corpus scan by
    // verifying the corpus file scans appear only under broadcast sides
    val corpusScanLines = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("graft_lshidx")).toSeq
    assert(corpusScanLines.nonEmpty, s"no corpus scan found:\n$plan")
    assert(scanToExchange.size <= 4,
      s"too many hash exchanges for a batch-bounded probe:\n$plan")
  }

  test("a published-but-EMPTY index probes to zero hits, not an error") {
    val path = tmp()
    // an all-duplicate first batch: appends no dir but legitimately
    // publishes (params + empty manifest + its commit tag) — the steady
    // state of a duplicate-heavy ingest stream's first delivery
    Dedup.indexAppend(docs().limit(0), "doc_id", "text", path, nh, nb, sn)
    assert(graft.io.Folio.currentVersion(s"$path/meta").nonEmpty,
      "empty first batch must still publish the index meta")
    val hits = Dedup.indexProbe(docs().limit(20), "doc_id", "text", path, thr)
    assert(hits.columns.toSeq == Seq("id_a", "id_b", "jaccard"))
    assert(hits.count() == 0L,
      "empty corpus has zero near-duplicates of anything")
    // and the index remains appendable + probe-able afterwards
    Dedup.indexAppend(docs().filter(col("doc_id") < 50), "doc_id", "text",
      path, nh, nb, sn)
    val replay = docs().filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    assert(Dedup.indexProbe(replay, "doc_id", "text", path, 0.99).count() > 0)
  }

  test("concurrent manifest appenders: the commit CAS never drops a batch") {
    val path = tmp()
    val nWriters = 4
    val slices = (0 until nWriters).map(i =>
      docs().filter(col("doc_id") % nWriters === i && col("doc_id") < 200))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.zipWithIndex.map { case (slice, i) =>
      new Thread(() => {
        try {
          var done = false
          var tries = 0
          while (!done && tries < 32) {
            tries += 1
            try {
              Dedup.indexAppend(slice, "doc_id", "text", path, nh, nb, sn)
              done = true
            } catch { case _: graft.io.ConcurrentPublishException => () }
          }
          if (!done) errs.add(new AssertionError(s"writer $i never committed"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"unexpected failures: ${errs.toArray.toSeq}")
    // every slice's batch dir survived into the final manifest — the
    // silent-drop failure mode (loser's stale manifest publishing over
    // the winner's entry) is exactly what the CAS exists to prevent
    val replay = docs().filter(col("doc_id") < 200)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val hits = Dedup.indexProbe(replay, "doc_id", "text", path, 0.99)
    assert(hits.filter(col("id_b") === col("id_a") + 1000000L).count() ==
      docs().filter(col("doc_id") < 200).count(),
      "a concurrently-appended batch vanished from the manifest")
  }

  test("a batch whose rows fail mid-write leaves no trace: caches, batch dirs, manifest and jobs as before") {
    val path = tmp()
    Dedup.indexAppend(docs().limit(20), "doc_id", "text", path, nh, nb, sn)
    val sc = spark.sparkContext
    def batchDirs() = Option(new java.io.File(s"$path/batches").list())
      .toSeq.flatten.filter(_.startsWith("b_")).toSet
    val (rdds, dirs, manifest) =
      (sc.getPersistentRDDs.keySet, batchDirs(), graft.io.Folio.rollupManifest(path))
    assert(dirs.size == 1 && manifest.size == 1)
    // row 190 sits in the last of 4 partitions: the emptiness check reads
    // only the first, so the throw lands in the band and set writes
    val failing = udf { (id: Long) =>
      if (id == 190L) throw new IllegalStateException("row 190 fails")
      Seq(id, id + 1, id + 2)
    }
    val bad = spark.range(0, 200, 1, 4)
      .select(col("id").as("doc_id"), failing(col("id")).as("shh"))
    val e = intercept[Exception](
      Dedup.indexAppendSets(bad, path, nh, nb, s"text:$sn"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("row 190 fails")), e)
    org.apache.spark.GraftBenchGlue.drainListeners(sc)
    assert(sc.getPersistentRDDs.keySet == rdds, "the batch cache outlived the failure")
    assert(batchDirs() == dirs, s"batch dirs: ${batchDirs()} (before: $dirs)")
    assert(graft.io.Folio.rollupManifest(path) == manifest)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a write job outlived the failure")
  }
}
