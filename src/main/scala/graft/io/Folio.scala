package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's storage model re-expressed on partitioned Parquet.
  *
  * Kerf writes objects as singlefile / directory-expanded / multifile
  * trees and mmaps them back lazily (/root/reference/file.cc:385–990);
  * a FOLIO is its partitioned list-of-lists — "a local folio of tables
  * is a striped/parted table" (/root/reference/presented.h:409–430).
  * Here: a folio IS a partition-dirs Parquet dataset; the sorted-write
  * convention materializes Kerf's maintained sorted-asc attribute
  * (/root/reference/slab.h:234–235, slop.cc:851–871) as Parquet row-group
  * min/max stats that Catalyst prunes on; mmap laziness is
  * `spark.read.parquet` laziness, with the schema taken from a footer on
  * the driver ([[Parquet]]).
  */
/** A folio publish lost its commit race: another writer's version landed
  * between this writer's state read (the basis its merge/manifest was
  * computed from) and its pointer swap. The winner's commit is intact
  * and no version number is skipped or lost; the thrower's staged data
  * was discarded. Re-read the folio and redo the append to recover —
  * the reference's FILE_REGISTRY contract (file.h:39–310) surfaced as a
  * loud error instead of a silent last-pointer-wins overwrite. */
final class ConcurrentPublishException(path: String,
    expected: Option[String], found: Option[String])
  extends RuntimeException(
    s"concurrent publish at $path: commit based on " +
    s"${expected.map(v => s"basis $v").getOrElse("an empty folio")} but " +
    s"_CURRENT is now ${found.getOrElse("absent")} — another writer won; " +
    "re-read and retry the append")

object Folio {

  /** Directory-expanded write: one subdir per partition key value
    * (file.cc:433–544's one-dir-per-node, relationally); rows sorted
    * within partitions so every file carries tight min/max stats. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
            sortCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Lazy read-back — the mmap moment (file.cc:935–990): one footer is
    * read for the schema, no data is touched until an action; partition
    * pruning replaces Kerf's parted-date binary search (presented.h:432). */
  def read(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)

  /** Append one new partition-worth of rows (the realtime→historical
    * promotion a tick DB does at day roll: new date dir slots into the
    * folio without touching existing ones).
    *
    * VERSION-AWARE: on a promoted folio (one that [[compact]] /
    * [[appendWithPromotion]] / [[upsertPublish]] has published), the
    * append lands INSIDE the live version dir — a plain-root append
    * would be invisible to [[promotedRead]] (silent data loss). Appends
    * are eventually-visible (files appear per commit-rename, as in the
    * plain layout); the atomic pointer swap protects REWRITES, which is
    * where torn reads would otherwise corrupt. The maintenance cycle is
    * append → compact → append → compact: each compaction folds the
    * version's accumulated append files into the next version. */
  def appendPartition(df: DataFrame, path: String, partitionCols: Seq[String],
                      sortCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "appendPartition is the directory-expanded append — it needs " +
      "partition keys (flat growth goes through appendWithPromotion)")
    val target = currentVersion(path) match {
      case Some(v) =>
        // layout compatibility: mixing flat files and partition dirs in
        // one version breaks parquet partition discovery — fail loudly
        val flat = Option(new java.io.File(path, v).listFiles())
          .getOrElse(Array.empty)
          .exists(f => f.isFile && f.getName.endsWith(".parquet"))
        require(!flat,
          s"live version $v is a FLAT layout; a partitioned append would " +
          "conflict — recompact with partition columns first")
        s"$path/$v"
      case None =>
        // the same flat-layout guard for the PLAIN root: partition dirs
        // landing next to root-level flat parquet files break partition
        // discovery at read time, far from this write
        val flatRoot = Option(new java.io.File(path).listFiles())
          .getOrElse(Array.empty)
          .exists(f => f.isFile && f.getName.endsWith(".parquet"))
        require(!flatRoot,
          s"$path holds a FLAT layout; a partitioned append would " +
          "conflict — compact with partition columns first")
        path
    }
    // same fail-loud posture as the flat-layout guard: an append whose
    // partition keys differ from the dirs already on disk (user_id=…
    // landing next to event_type=…) writes two interleaved layouts into
    // one dataset — partition discovery then fails (or worse, guesses)
    // at READ time, far from the write that caused it
    val onDisk = partitionColsOnDisk(new java.io.File(target))
    require(onDisk.isEmpty || onDisk == partitionCols,
      s"partition-column mismatch: folio at $target is laid out by " +
      s"(${onDisk.mkString(", ")}) but the append partitions by " +
      s"(${partitionCols.mkString(", ")}) — recompact to change layout")
    // physical-width guard: parquet cannot merge int32/int64 files in
    // one dataset — a narrower batch would corrupt reads far from this
    // write. Column SET must match too (mergeSchema is off; a drifted
    // column silently vanishes or nulls depending on footer sampling).
    // ONE representative footer, not a dataset listing: every file in a
    // valid folio shares one schema, and a full listing per append would
    // grow with fragmentation (the exact state this append creates)
    firstParquetFile(new java.io.File(target)).foreach { sample =>
      val stored = Parquet.schemaOf(df.sparkSession, sample.getAbsolutePath)
      val dataCols = df.schema.fieldNames.filterNot(partitionCols.contains)
      require(dataCols.toSet == stored.fieldNames.toSet,
        s"appendPartition: batch data columns (${dataCols.sorted.mkString(", ")}) " +
        s"drift from the folio's (${stored.fieldNames.sorted.mkString(", ")})")
      stored.foreach { f =>
        val b = df.schema(f.name).dataType
        require(b == f.dataType,
          s"appendPartition: column '${f.name}' is ${f.dataType.simpleString} on disk " +
          s"but ${b.simpleString} in the batch — parquet cannot merge physical " +
          "widths; widen through appendWithPromotion or compact")
      }
    }
    write(df, target, partitionCols, sortCols, SaveMode.Append)
  }

  /** First parquet data file under `dir` (depth-first through partition
    * dirs) — the representative footer for schema checks. */
  private def firstParquetFile(dir: java.io.File): Option[java.io.File] = {
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("_")).sortBy(_.getName)
    entries.collectFirst {
      case f if f.isFile && f.getName.endsWith(".parquet") => f
    }.orElse(entries.filter(_.isDirectory).iterator
      .flatMap(d => firstParquetFile(d)).take(1).toSeq.headOption)
  }

  /** The partition-column chain a directory-expanded dataset already has
    * on disk, read off its `name=value` dir nesting (empty for a flat
    * layout). Descends the FIRST matching dir at each level — Spark's
    * own partition discovery requires every sibling branch to share one
    * column sequence, so any branch is representative. */
  private[graft] def partitionColsOnDisk(dir: java.io.File): Seq[String] = {
    val kv = Option(dir.listFiles()).getOrElse(Array.empty)
      .find(d => d.isDirectory && d.getName.contains("=") && !d.getName.startsWith("_"))
    kv match {
      case Some(d) => d.getName.takeWhile(_ != '=') +: partitionColsOnDisk(d)
      case None => Nil
    }
  }

  /** Kerf's transparent type promotion at the table boundary
    * (/root/reference/layout.cc:726–836: vectors promote on append;
    * SURVEY §7.5.5): appending a batch whose column widths exceed the
    * stored schema widens BOTH to the least upper type and rewrites the
    * folio schema forward. Parquet can't merge int32/int64 schemas, so
    * promotion is explicit: numeric lattice byte<short<int<long<float<
    * double; anything else must match exactly. */
  private val widthRank: Map[org.apache.spark.sql.types.DataType, Int] = {
    import org.apache.spark.sql.types._
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
        FloatType -> 4, DoubleType -> 5)
  }

  def widen(a: org.apache.spark.sql.types.DataType,
            b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (a == b) a
    else (widthRank.get(a), widthRank.get(b)) match {
      // int/long × float must jump to DOUBLE: float's 24-bit mantissa
      // cannot hold ints above 2^24, so the naive rank pick (float >
      // long) would silently truncate — violating the promote-never-
      // truncate contract. byte/short × float stay float (|x| < 2^15
      // is exact in binary32). long × double is the lattice top: SQL's
      // convention, 2^53 caveat and all.
      case (Some(_), Some(_))
          if (a == FloatType && (b == IntegerType || b == LongType)) ||
             (b == FloatType && (a == IntegerType || a == LongType)) =>
        DoubleType
      case (Some(ra), Some(rb)) => if (ra >= rb) a else b
      case _ => throw new IllegalArgumentException(s"cannot promote $a vs $b")
    }
  }

  // ----- promote-on-append: versioned rewrite + pointer swap (SURVEY §7.5.4)

  private def currentFile(path: String) = new java.io.File(path, "_CURRENT")

  /** Everything the versioned-publish protocol owns at a folio ROOT:
    * pointer files (`_CURRENT` + its `.tmp`/`.lock`/`.keep` siblings),
    * version dirs, and their unique staging names. Legacy-data scans and
    * migrate-in-place cleanups must skip EXACTLY this set — one
    * predicate, so the next protocol file cannot be missed at one of
    * the copies (missing one either double-counts a protocol dir as
    * legacy data or deletes it during migration). */
  private[graft] def isProtocolEntry(name: String): Boolean =
    name.startsWith("_CURRENT") || name.matches("v\\d{8,}(\\.stage-.*)?")

  /** Live version name (`vNNNNNNNN`) of a promoted folio, if the path
    * uses the versioned layout. */
  def currentVersion(path: String): Option[String] = {
    val f = currentFile(path)
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
        .filter(_.nonEmpty)
    else None
  }

  /** Read a promoted folio: resolves the `_CURRENT` pointer when present,
    * else falls back to a plain Parquet dir. */
  def promotedRead(spark: SparkSession, path: String): DataFrame =
    currentVersion(path).fold(read(spark, path))(readVersion(spark, path, _))

  /** Read the PRE-VERSIONED root content of `path`: root-level parquet
    * files and legacy partition dirs, EXCLUDING version dirs and pointer
    * files — a crashed first publish leaves a `vN` dir with no
    * `_CURRENT`, and unioning it would double-count (worse: the next
    * publish Overwrites that very dir while the lazy plan still reads
    * it). Returns None only when the root genuinely holds no data; a
    * real read failure PROPAGATES — mapping it to None would publish a
    * v1 that silently hides a populated folio behind one transient FS
    * error. */
  private def legacyRead(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = new java.io.File(path)
    if (!root.isDirectory) return None
    val entries = Option(root.listFiles()).getOrElse(Array.empty)
      .filterNot(f => isProtocolEntry(f.getName))
      .filter(f => f.isDirectory || f.getName.endsWith(".parquet"))
    if (entries.isEmpty) None
    else Some(spark.read.option("basePath", path)
      .parquet(entries.map(_.getAbsolutePath).toSeq: _*))
  }

  /** The data a read-modify-write publish starts from: the live version
    * `cur`, else the pre-versioned root content. */
  private def liveData(spark: SparkSession, path: String,
                       cur: Option[String]): Option[DataFrame] =
    cur.map(readVersion(spark, path, _)).orElse(legacyRead(spark, path))

  /** Publish `df` as the next folio version: write the data to a fresh
    * staging dir, then ATOMICALLY rename it to `vN` and swap the
    * `_CURRENT` pointer — the only mutations readers can observe, each
    * all-or-nothing. A crash at ANY earlier point leaves a stale
    * stage/tmp dir on disk but readers still resolve the old version.
    * Local-FS model of the object-store "write new immutable version,
    * CAS the catalog pointer" protocol a 100 TB folio store uses. The
    * CAS is REAL (the reference's FILE_REGISTRY concurrency contract,
    * file.h:39–310, as a commit protocol rather than an advisory rule):
    * the swap verifies under a lock that `_CURRENT` still names version
    * n-1, so of two concurrent read-modify-write publishers exactly one
    * wins and the loser throws [[ConcurrentPublishException]] — never a
    * silent overwrite of the winner's rows or manifest entries. */
  private def publishVersion(df: DataFrame, path: String, n: Long,
                             partitionCols: Seq[String] = Nil,
                             preSpread: Boolean = false): Unit = {
    val vname = f"v$n%08d"
    // partitionBy on an arbitrarily-partitioned plan writes one file per
    // (task x partition value) — tasks-times-dirs small files, undoing
    // the compaction this protocol exists to preserve. Co-locate each
    // partition value on one task first, unless the caller (compact)
    // already spread the plan deliberately.
    val out =
      if (partitionCols.nonEmpty && !preSpread)
        df.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions(partitionCols.map(col): _*)
      else df
    val stage = stageDir(path, vname)
    val w = out.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stage.getPath)
    commitStaged(path, stage, vname, n)
  }

  /** Each publish attempt stages under a UNIQUE name (never the final
    * `vN`): two racing writers that both computed n must not interleave
    * file writes inside one directory — the loser would corrupt the
    * winner's data before either pointer swap. Suffixed names fail the
    * strict `v\d{8,}` match everywhere (readers, [[versions]], vacuum —
    * 8+ digits: %08d grows past v99999999 and the protocol must keep
    * seeing those versions), so a stage is invisible until its atomic
    * rename. */
  private def stageDir(path: String, vname: String): java.io.File =
    new java.io.File(path,
      s"$vname.stage-${System.nanoTime()}-${Thread.currentThread().getId}")

  // per-path monitor serializing the check-and-swap among THIS JVM's
  // writers (the local[*] and one-driver deployments); the file lock
  // inside extends the exclusion across processes on a shared FS
  private val publishMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def publishMonitor(path: String): Object =
    publishMonitors.computeIfAbsent(
      new java.io.File(path).getAbsolutePath, _ => new Object)

  /** The shared tail of every publisher — the COMMIT: under the folio's
    * publish lock, verify `_CURRENT` still names version n-1 (the basis
    * every caller computed n from), atomically rename the staged dir to
    * `vN`, swap the pointer, then GC versions STRICTLY OLDER than the
    * previous (kept as the crash fallback). A basis mismatch means
    * another writer committed since this writer read its state — its
    * merge/manifest is stale, so the commit throws
    * [[ConcurrentPublishException]] (stage discarded, winner untouched,
    * no version lost) instead of silently dropping the winner's work.
    * Stage dirs are GC'd at the same floor as version dirs: one
    * targeting n or n+1 may be a live concurrent attempt mid-write, and
    * rmTree under it would resurrect partial trees.
    *
    * BOUNDED RETENTION caveat: the GC keeps live + `keep` fallbacks, so
    * a reader (or a staling writer's merge plan) pinned to a version
    * ≥ keep+1 commits behind can have its dir vanish MID-READ — that
    * surfaces as FileNotFound inside the Spark job, not as this CAS
    * error, and means the same thing: state went stale, re-read and
    * retry (the streaming sinks do, EventStream.appendGuarded). One
    * implementation so the publish paths can never diverge. */
  // paths already warned about a missing cross-process file lock — the
  // degradation is a property of the FILESYSTEM, one line per path is
  // signal, one line per publish is noise
  private val flockWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def commitStaged(path: String, stage: java.io.File, vname: String,
                           n: Long, keep: Int = 1): Unit = {
    val expected = if (n <= 1L) None else Some(f"v${n - 1L}%08d")
    publishMonitor(path).synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        new java.io.File(path, "_CURRENT.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        // cross-process exclusion where the FS supports it; a filesystem
        // without byte-range locks degrades to the in-JVM monitor plus
        // the CAS re-read below (still loud, window merely narrower) —
        // surfaced ONCE per path so operators know the guarantee is
        // advisory there instead of discovering it from an interleave
        val flock = try lockCh.lock()
                    catch { case e: java.io.IOException =>
                      if (flockWarned.add(new java.io.File(path).getAbsolutePath))
                        System.err.println(
                          s"[graft] WARN: cross-process file lock unavailable at " +
                          s"$path (${e.getClass.getSimpleName}) — publish exclusion " +
                          "degrades to in-JVM serialization plus the CAS re-read; " +
                          "two writers in DIFFERENT processes on this filesystem " +
                          "can interleave check-and-swap")
                      null }
        try {
          val now = currentVersion(path)
          if (now != expected) {
            rmTree(stage)
            throw new ConcurrentPublishException(path, expected, now)
          }
          // a non-default retention is a property of the FOLIO, not of
          // one call: persist it so a cadence `vacuum` (which cannot know
          // the caller's keep) honors the same floor. INSIDE the lock and
          // BEFORE the pointer swap (it is idempotent): written after
          // release, a vacuum racing the FIRST keep=2 publish could read
          // keepDepth()=1 and reap the extra fallback this publish
          // deliberately retains — the exact plan-vs-execute window
          // keep=2 exists to close
          if (keep > 1)
            java.nio.file.Files.write(
              new java.io.File(path, "_CURRENT.keep").toPath,
              keep.toString.getBytes("UTF-8"))
          val vdir = new java.io.File(path, vname)
          // a CRASHED pre-staging-era attempt may have left a dir under
          // the final name; no live writer can own it (it would have had
          // to commit, and then `now` would be >= n), so clear it
          if (vdir.exists()) rmTree(vdir)
          java.nio.file.Files.move(stage.toPath, vdir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          val tmp = new java.io.File(path, "_CURRENT.tmp")
          java.nio.file.Files.write(tmp.toPath, vname.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp.toPath, currentFile(path).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally { if (flock != null) flock.release() }
      } finally lockCh.close()
    }
    // GC with the FOLIO's floor, not just this call's: a default-keep
    // publisher (a manual dialect append) interleaving on a keep=2
    // folio must not reap the extra fallback a rollup publisher pinned
    val effKeep = math.max(keep, keepDepth(path))
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        d.getName.matches("v\\d{8,}(\\.stage-.*)?") &&
        d.getName.substring(1).takeWhile(_.isDigit).toLong < n - effKeep)
      .foreach(rmTree)
  }

  /** The folio's published retention depth (versions kept BELOW live):
    * 1 unless a publisher pinned more via `_CURRENT.keep` (rollup metas
    * keep 2 for the plan-vs-execute window). */
  private def keepDepth(path: String): Int = {
    val f = new java.io.File(path, "_CURRENT.keep")
    if (!f.isFile) 1
    else scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt)
      .toOption.filter(_ >= 1).getOrElse(1)
  }

  /** Stage-and-swap publish for an arbitrary ARTIFACT TREE (model JSON +
    * data dirs — the ANN index layout): the caller writes everything
    * under a staged dir, and only then does the same atomic rename +
    * `_CURRENT` swap as [[publishVersion]] make it live. A crash
    * mid-write leaves the previous version fully intact and the staged
    * dir invisible (vacuumable); a concurrent reader can never observe a
    * new model file paired with old data files, because both live inside
    * one immutable version dir. Returns the published version name.
    * The version number derives from `_CURRENT` at ENTRY and the commit
    * CAS-checks it is still the basis at swap — callers whose
    * read-modify-write began earlier (manifest-log appenders) pass
    * their own basis through [[publishArtifactsFrom]]. */
  def publishArtifacts(path: String)(write: java.io.File => Unit): String =
    publishArtifactsFrom(path, currentVersion(path))(write)

  /** [[publishArtifacts]] with an explicit BASIS: `basedOn` is the
    * `_CURRENT` value the caller's read-modify-write started from (None
    * for "expected empty"). If any other writer commits between that
    * read and this swap, the commit throws
    * [[ConcurrentPublishException]] — the guard that makes two
    * concurrent manifest appenders safe: the loser's stale manifest
    * (missing the winner's entry) is discarded instead of silently
    * published over it. */
  def publishArtifactsFrom(path: String, basedOn: Option[String],
      keep: Int = 1)(write: java.io.File => Unit): String = {
    val n = basedOn.map(_.stripPrefix("v").toLong + 1L).getOrElse(1L)
    val vname = f"v$n%08d"
    val stage = stageDir(path, vname)
    stage.mkdirs()
    write(stage)
    commitStaged(path, stage, vname, n, keep)
    vname
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** Append with promote-on-append semantics: widens the on-disk data
    * when the incoming batch needs it (one rewrite — the table-level
    * analog of the reference's promote_or_expand_via_widths,
    * layout.cc:726–836). The rewrite is a versioned publish, never a
    * delete-then-rename of live data: a crash mid-promotion leaves the
    * previous version intact and readable. Schemas are validated
    * explicitly — a batch missing stored columns, or carrying unknown
    * ones, is an error rather than silent data loss. */
  /** A path whose state is the ROLLUP manifest-log (meta/_CURRENT or a
    * batches dir) belongs exclusively to the appendWithRollup protocol:
    * the versioned-data publishers below would read its protocol trees
    * as legacy data (double-counting batches with the stored rollup)
    * and their migrate-in-place cleanup would rmTree the manifest, the
    * applied commit tags, and the rollup itself. Loud beats destroyed. */
  private def requireNotRollupManaged(path: String, op: String): Unit =
    require(!new java.io.File(path, "meta/_CURRENT").isFile &&
            !new java.io.File(path, "batches").isDirectory,
      s"$op: $path is a rollup-managed folio (manifest-log layout) — " +
      "append through appendWithRollup / read through rollupRead; the " +
      "versioned-data publishers would destroy its manifest state")

  def appendWithPromotion(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    requireNotRollupManaged(path, "appendWithPromotion")
    val cur = currentVersion(path)
    liveData(spark, path, cur) match {
      case None => publishVersion(df, path, 1L)
      case Some(old) =>
        val stored = old.schema.map(_.name).toSet
        val incoming = df.schema.map(_.name).toSet
        require((stored -- incoming).isEmpty,
          s"incoming batch is missing stored columns: ${(stored -- incoming).mkString(", ")}")
        require((incoming -- stored).isEmpty,
          s"incoming batch has columns the folio lacks: ${(incoming -- stored).mkString(", ")}")
        val target = org.apache.spark.sql.types.StructType(old.schema.map { f =>
          f.copy(dataType = widen(f.dataType, df.schema(f.name).dataType))
        })
        def castTo(d: DataFrame) =
          d.select(target.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        val next = cur.map(_.stripPrefix("v").toLong + 1L).getOrElse(1L)
        // preserve the live dir layout (same contract as upsertPublish:
        // an append is a row change, never a layout change — publishing
        // flat over a compacted partitioned version would silently drop
        // the clustering). Layout CHANGES go through compact, which
        // passes its partitionCols explicitly.
        val liveParts = cur.map(v => partitionColsOnDisk(new java.io.File(path, v)))
          .getOrElse(partitionColsOnDisk(new java.io.File(path)))
        // legacy (pre-versioned) layouts must be read BEFORE publishing:
        // the union materializes during the version write
        publishVersion(castTo(old).unionByName(castTo(df)), path, next, liveParts)
        if (cur.isEmpty) {
          // migrate-in-place: the legacy root-level files/partition dirs
          // were folded into v1 — remove them so a PLAIN read of the path
          // doesn't see both copies. Runs only after the pointer swap: a
          // crash before this point leaves extra files but promotedRead
          // (and workspaceLoad) still resolve exactly one version.
          Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
            .filter(f => !isProtocolEntry(f.getName))
            .foreach(rmTree)
        }
    }
  }

  /** COMPACT a folio: every micro-batch append lands one file per
    * partition dir (the realtime→historical promotion of
    * [[appendPartition]] / the streaming foreachBatch sink), so a folio
    * that has been fed for a while is thousands of tiny files — the
    * 100 TB small-files problem: footer-per-file open cost, listing
    * pressure, and scan tasks sized by file count instead of bytes.
    * Compaction rewrites the LIVE data as one fresh immutable version
    * with `filesPerPartition` files per partition value (1 = the parted
    * ideal; partition values hash to distinct write tasks so each dir
    * gets exactly that many files), re-sorted on `sortCols` within each
    * file so the sorted-run property survives the rewrite, and published
    * with the same atomic `_CURRENT` swap as [[appendWithPromotion]]:
    * readers never observe a half-compacted folio, a crash at any point
    * leaves the previous layout live, and the pre-versioned plain layout
    * migrates into the protocol on first compaction (root-level dirs are
    * removed only AFTER the pointer swap). Single writer per folio —
    * the same FILE_REGISTRY protocol rule (file.h:39–310) as every other
    * folio mutation here.
    *
    * Reference: the directory-expanded folio write (file.cc:433–544)
    * keeps one file per column per dir — compaction is how the Spark
    * layout gets back to that after incremental growth. */
  def compact(spark: SparkSession, path: String,
              partitionCols: Seq[String] = Nil, sortCols: Seq[String] = Nil,
              filesPerPartition: Int = 1, zorderCols: Seq[String] = Nil): Unit = {
    require(filesPerPartition >= 1, s"filesPerPartition must be >= 1, got $filesPerPartition")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are alternative clusterings — pick one")
    requireNotRollupManaged(path, "compact")
    val cur = currentVersion(path)
    val df = liveData(spark, path, cur)
      .getOrElse(throw new IllegalArgumentException(s"compact: no data at $path"))
    val keyCols = partitionCols.map(col)
    // z-value is STAGED as a column (withZValue) — the single-Column
    // form replicates the bucket when-tree per interleaved bit and pays
    // ~13 s of Janino compile time at bits=8 (SCALING.md "Folio
    // compaction + Z-order")
    val (working, zv) =
      if (zorderCols.isEmpty) (df, None)
      else { val (staged, name) = withZValue(df, zorderCols); (staged, Some(col(name))) }
    val spread = (partitionCols, zv) match {
      // z-order without dir partitioning: RANGE partition on the z-value
      // so each output file owns a contiguous z-range = a bounded
      // rectangle in every clustered dimension (file/row-group stats
      // then prune on ANY of the dimensions, not just the first sort key)
      case (Nil, Some(z)) => working.repartitionByRange(filesPerPartition, z)
      // linear sort without dir partitioning: range partition on the
      // sort keys so the GLOBAL sorted-run convention holds across files
      case (Nil, None) if sortCols.nonEmpty =>
        working.repartitionByRange(filesPerPartition, sortCols.map(col): _*)
      case (Nil, None)    => working.repartition(filesPerPartition)
      case (_, _) if filesPerPartition == 1 => working.repartition(keyCols: _*)
      case (_, _) => working.repartition(keyCols :+
        pmod(xxhash64(df.columns.map(col): _*), lit(filesPerPartition)): _*)
    }
    val sorted = zv match {
      case Some(z) => spread.sortWithinPartitions(keyCols :+ z: _*).drop("__zvalue")
      case None if sortCols.isEmpty => spread
      case None => spread.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    }
    val next = cur.map(_.stripPrefix("v").toLong + 1L).getOrElse(1L)
    publishVersion(sorted, path, next, partitionCols, preSpread = true)
    if (cur.isEmpty) {
      // migrate-in-place (same post-swap cleanup as appendWithPromotion):
      // the legacy root-level files/partition dirs were folded into v1
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(f => !isProtocolEntry(f.getName))
        .foreach(rmTree)
    }
  }

  /** UPSERT-PUBLISH: replace-by-key merge INTO the folio — the dialect's
    * `upsert` (q37, presented.cc:327–336 amend semantics) at the STORAGE
    * layer: read the live version, merge the batch
    * ([[graft.ops.TableOps.upsert]] — matching keys replaced, new keys
    * appended), publish as the next immutable version under the atomic
    * `_CURRENT` swap. Copy-on-write, the object-store merge protocol: a
    * crash leaves the previous version live, and the pre-merge image
    * stays readable via [[readVersion]] until the next publish GCs it.
    * Schema must match the stored table exactly (same loud contract as
    * [[appendWithPromotion]]). */
  def upsertPublish(df: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    requireNotRollupManaged(path, "upsertPublish")
    val cur = currentVersion(path)
    val existing = liveData(spark, path, cur)
    // preserve the live version's dir layout: an upsert is a row merge,
    // not a layout change — publishing flat over a partitioned version
    // would silently drop the clustering compact built (and the next
    // appendPartition would then fail its flat-layout guard)
    val liveParts = cur.map(v => partitionColsOnDisk(new java.io.File(path, v)))
      .getOrElse(partitionColsOnDisk(new java.io.File(path)))
    existing match {
      case None => publishVersion(df, path, 1L)
      case Some(old) =>
        val stored = old.schema.map(_.name).toSet
        val incoming = df.schema.map(_.name).toSet
        require(stored == incoming,
          s"upsert batch schema mismatch: missing ${(stored -- incoming).mkString(", ")} " +
          s"unknown ${(incoming -- stored).mkString(", ")}")
        require(keys.forall(stored), s"upsert keys not in table: ${keys.filterNot(stored).mkString(", ")}")
        val next = cur.map(_.stripPrefix("v").toLong + 1L).getOrElse(1L)
        publishVersion(graft.ops.TableOps.upsert(old, df, keys), path, next, liveParts)
        if (cur.isEmpty) {
          Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
            .filter(f => !isProtocolEntry(f.getName))
            .foreach(rmTree)
        }
    }
  }

  /** Compaction POLICY: rewrite only when fragmentation crossed the
    * threshold (the maintenance-job guard — an idle folio must not pay a
    * full rewrite per cycle). Returns whether a compaction ran. */
  def compactIfFragmented(spark: SparkSession, path: String, maxFiles: Int,
                          partitionCols: Seq[String] = Nil,
                          sortCols: Seq[String] = Nil,
                          filesPerPartition: Int = 1,
                          zorderCols: Seq[String] = Nil): Boolean = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val fragmented = dataFileCount(path) > maxFiles
    if (fragmented)
      compact(spark, path, partitionCols, sortCols, filesPerPartition, zorderCols)
    fragmented
  }

  /** VACUUM a promoted folio: delete crash leftovers — version AND stage
    * dirs STRICTLY OLDER than the live + previous pair (a superseded or
    * race-losing publish the GC tail missed) and a stale `_CURRENT.tmp`.
    * Dirs AT or ABOVE the floor are left alone: a stage dir targeting
    * the next version may be a live writer mid-write, and rmTree under
    * it would resurrect a PARTIAL tree (tasks committing after the
    * delete), while one that really is a crash orphan falls under the
    * floor after two more publishes and is reclaimed then — or by the
    * commit CAS itself, which discards a losing stage on the spot.
    * Never touches the live version or its fallback, so it is safe on a
    * cadence; returns the names removed. */
  def vacuum(path: String, graceMs: Long = 10 * 60 * 1000L): Seq[String] = {
    val floor = currentVersion(path).map(_.stripPrefix("v").toLong - keepDepth(path))
    val dir = new java.io.File(path)
    val goneVersions = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("v\\d{8,}(\\.stage-.*)?") &&
        floor.exists(f => d.getName.substring(1).takeWhile(_.isDigit).toLong < f))
      .map { d => rmTree(d); d.getName }
    // the tmp pointer gets the same in-flight grace as young batch dirs:
    // swapCurrentAndVacuum writes _CURRENT.tmp then moves it — a cadence
    // vacuum in that window would make the publisher's move throw after
    // the full version write. Stale tmps age past the window and reap.
    val cutoff = System.currentTimeMillis() - graceMs
    val tmp = new java.io.File(path, "_CURRENT.tmp")
    val goneTmp = if (tmp.isFile && tmp.lastModified() < cutoff) {
      tmp.delete(); Seq("_CURRENT.tmp")
    } else Nil
    (goneVersions.toSeq ++ goneTmp).sorted
  }

  /** Versions currently on disk for a promoted folio, ascending — the
    * live one plus the previous kept as crash fallback / time travel. */
  def versions(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("v\\d{8,}"))
      // NUMERIC order: past v99999999 the names grow to 9 digits and
      // lexicographic sort would put v100000000 before v99999999
      .map(_.getName).sortBy(_.stripPrefix("v").toLong).toSeq

  /** TIME TRAVEL: read a specific retained version (the previous version
    * survives every publish as the crash fallback, so the pre-image of
    * the latest mutation is always one `readVersion` away). A GC'd or
    * unknown version fails loudly. */
  def readVersion(spark: SparkSession, path: String, version: String): DataFrame = {
    require(new java.io.File(path, version).isDirectory,
      s"version $version not on disk at $path (have: ${versions(path).mkString(", ")})")
    read(spark, s"$path/$version")
  }

  /** Morton / Z-ORDER clustering value over `cols` — the multi-dimension
    * layout technique (Morton 1966; the lakehouse "OPTIMIZE ZORDER"):
    * each column is rank-quantized into 2^bits buckets against its own
    * approx-quantile boundaries, then bucket bits INTERLEAVE into one
    * long. Sorting by that long places rows so any contiguous run is a
    * bounded hyper-rectangle in every clustered dimension — parquet
    * row-group/file min-max stats then prune predicates on ANY clustered
    * column, where a linear sort only serves its leading key.
    *
    * Scale shape: boundaries are (2^bits−1)·|cols| doubles collected
    * once per column via `approxQuantile` (Greenwald–Khanna — one
    * distributed pass each, driver state ≤ KBs); the z-value itself is a
    * codegen-friendly balanced `when`-tree (bits comparisons per
    * column, no UDF). Rank quantization (not raw-bit interleave) makes
    * the curve robust to skew: each bucket holds ~1/2^bits of the data
    * regardless of the value distribution. NULLs sort into the top
    * bucket of their dimension. */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    val (buckets, ncols) = zBuckets(df, cols, bits)
    interleave(buckets, bits, ncols).as("__zvalue")
  }

  /** [[zvalue]] with the bucket lookups STAGED as real columns before the
    * bit interleave — the form every data-sized caller should use. The
    * single-Column [[zvalue]] references each column's `when`-tree once
    * per bit (the interleave needs bit i of the bucket), so at bits=8 the
    * generated expression holds 8 copies of a 255-node tree per column
    * and Janino pays ~13 s of COMPILE time before the first row
    * (measured, SCALING.md "Folio compaction + Z-order" — flat at every
    * data size). Staging makes each tree appear once (>1 downstream
    * reference blocks CollapseProject, the SCALING.md discipline); the
    * interleave then reads cheap column refs. Returns the frame plus the z column name. */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 8): (DataFrame, String) = {
    val (buckets, ncols) = zBuckets(df, cols, bits)
    val staged = buckets.zipWithIndex.foldLeft(df) { case (d, (b, j)) =>
      d.withColumn(s"__zb$j", b)
    }
    val z = interleave(cols.indices.map(j => col(s"__zb$j")), bits, ncols)
    (staged.withColumn("__zvalue", z).drop(cols.indices.map(j => s"__zb$j"): _*),
     "__zvalue")
  }

  private def zBuckets(df: DataFrame, cols: Seq[String], bits: Int): (Seq[Column], Int) = {
    require(cols.nonEmpty, "zvalue needs at least one column")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*cols must fit a long: $bits*${cols.size}")
    val n = 1 << bits
    val qs = (1 until n).map(_.toDouble / n).toArray
    def bucketOf(c: Column, bounds: Array[Double], lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi + 1) / 2
        when(c < lit(bounds(mid - 1)), bucketOf(c, bounds, lo, mid - 1))
          .otherwise(bucketOf(c, bounds, mid, hi))
      }
    // ONE distributed pass for every column's boundaries (the
    // multi-column approxQuantile overload) — a per-column call would
    // scan the full folio |cols| times just to collect bucket edges.
    // try_cast, not cast: ANSI mode would throw CAST_INVALID_INPUT on
    // the first malformed row mid-job — the rim guard below owns the
    // failure with the actual cause (non-numeric column, all-null,
    // empty folio: all yield no boundaries). approxQuantile ignores
    // nulls per column, same semantics as the old per-column na.drop.
    val staged = df.select(cols.zipWithIndex.map { case (name, j) =>
      col(name).try_cast("double").as(s"__zq$j") }: _*)
    val allBounds = staged.stat.approxQuantile(
      cols.indices.map(j => s"__zq$j").toArray, qs, 0.001)
    (cols.zipWithIndex.map { case (name, j) =>
      val bounds = allBounds(j)
      require(bounds.length == qs.length,
        s"zorder column '$name' yielded no quantile boundaries — " +
        "it must be numeric (castable to double) with at least one non-null row")
      bucketOf(col(name).try_cast("double"), bounds, 0, n - 1)
    }, cols.size)
  }

  private def interleave(buckets: Seq[Column], bits: Int, ncols: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(b, i).bitwiseAND(lit(1L)), i * ncols + j))
      }
    }

  /** Data files (not metadata) under a folio's LIVE layout — the
    * before/after observable compaction changes. */
  def dataFileCount(path: String): Int = {
    val root = currentVersion(path) match {
      case Some(v) => new java.io.File(path, v)
      case None    => new java.io.File(path)
    }
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(root)
  }

  /** Sorted PARTED folio as a bucketed catalog table — the blessed route
    * for order-reporting reads (SURVEY §4): `bucketBy(keys)` makes every
    * scan report hash-partitioning on the keys and `sortBy(keys, ts)`
    * makes it report sort order, so a merge-style consumer (sort-merge
    * join, the native as-of exec) runs with NO exchange and NO sort above
    * the scans. `repartition(buckets, keys)` first ⇒ exactly one file per
    * bucket — multi-file buckets void the scan's ordering report and
    * Catalyst re-sorts. This is Kerf's parted-table promise
    * (/root/reference/presented.h:409–430: "parted on date, sorted within")
    * carried by the catalog instead of a filesystem convention. */
  def writeSortedTable(df: DataFrame, table: String, keys: Seq[String],
                       sortCols: Seq[String], buckets: Int = 8): Unit = {
    // pre-clean BOTH the catalog entry and the managed location: a fresh
    // (in-memory) catalog knows nothing about a table whose warehouse
    // directory survived a previous session, and CTAS refuses to reuse
    // the orphaned location — the overwrite must cover both worlds.
    // Ask the CATALOG for the would-be managed location rather than
    // deriving it by the warehouse/<db>.db/<table> convention: a
    // database created with a custom LOCATION puts the table elsewhere,
    // and the conventional guess would both miss the orphan and leave
    // the CTAS failing with the very location-reuse error this cleans.
    val spark = df.sparkSession
    // qualified names would silently target the wrong identifier below
    // (backtick-wrapping treats the whole string as one name in the
    // current database, and defaultTablePath would compute a location
    // under the wrong db) — reject loudly rather than miss the cleanup
    require(!table.contains("."),
      s"writeSortedTable: unqualified table names only, got '$table' — " +
      "set the database via spark.catalog.setCurrentDatabase first")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(
          table.toLowerCase, Some(spark.catalog.currentDatabase))))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val sorted = keys ++ sortCols
    df.repartition(buckets, keys.map(col): _*)
      .write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .mode(SaveMode.Overwrite).saveAsTable(table)
  }

  // ----- folio of remote tables (presented.h:427–430; SURVEY §1.7) -----

  private val RemoteLoc = "remote://([^/:]+):(\\d+)/(.+)".r

  /** One folio site: a local/promoted parquet location, or a
    * `remote://host:port/table` socket endpoint. This is the ONE
    * location grammar — `<<` in the dialect, federatedRead sites, and
    * workspace paths all mean the same thing by going through it. */
  def readSite(spark: SparkSession, loc: String): DataFrame = loc match {
    case RemoteLoc(host, port, table) =>
      spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", s"$host:$port").option("table", table).load()
    case _ => promotedRead(spark, loc)
  }

  /** Folio of REMOTE tables — the reference's federation vehicle ("a list
    * of socket-mapped objects inside a FOLIO … executes queries remotely",
    * one thread per socket-obj): N independently-written table locations
    * (other sites' exports, other clusters' object-store prefixes) behave
    * as ONE table.
    *
    * Spark-first shape: one NATIVE parquet scan per site, unioned by
    * name — NOT a custom row-producing DataSource. The native scan keeps
    * the vectorized reader, column pruning, predicate/row-group pushdown
    * and partition pruning PER SITE (Catalyst pushes filters and
    * projections through Union; pinned in SourcesSpec — the same
    * PushedFilters appear under every site's scan), and Spark schedules
    * all sites' files as one task pool, which is the reference's
    * one-thread-per-socket asynchrony without bespoke threading. At 100 TB
    * this is the difference between federation as a THIN metadata
    * operation and a bespoke reader that forfeits codegen.
    *
    * Cross-site width drift — one site wrote int32 before a promotion,
    * another int64 after (the [[appendWithPromotion]] world) — resolves
    * through the same numeric lattice: every site casts up to the least
    * upper schema (comparisons still push down; Spark unwraps casts in
    * binary comparisons). Sites may themselves be promoted folios: the
    * `_CURRENT` pointer is resolved per site. Column-name sets must
    * match — a missing column is an error, not a silent null fill.
    *
    * `siteColumn` adds provenance (which site a row came from) — the
    * folio-child identity the reference keeps implicitly by position.
    *
    * A location of the form `remote://host:port/table` is a TRULY remote
    * site — a [[graft.sources.RemoteTableServer]] endpoint reached over
    * its socket protocol (the literal "socket-mapped object" of
    * presented.h:427). Remote sites keep per-fragment parallelism and
    * push projection + filters over the wire (see RemoteFolioSource);
    * local sites keep the native vectorized scan. The two mix freely in
    * one folio. */
  def federatedRead(spark: SparkSession, locations: Seq[String],
                    siteColumn: Option[String] = None): DataFrame = {
    require(locations.nonEmpty, "federated folio needs at least one location")
    val sites = locations.map(l => readSite(spark, l))
    val names = sites.head.schema.map(_.name)
    sites.zip(locations).foreach { case (s, loc) =>
      val got = s.schema.map(_.name).toSet
      require(got == names.toSet,
        s"federated site '$loc' schema mismatch: has ${got.mkString(",")}, " +
        s"folio has ${names.mkString(",")}")
    }
    siteColumn.foreach(sc => require(!names.exists(_.equalsIgnoreCase(sc)),
      s"provenance column '$sc' collides with a data column — pick another name"))
    val target = names.map(n =>
      n -> sites.map(_.schema(n).dataType).reduce(widen)).toMap
    sites.zip(locations).map { case (s, loc) =>
      val unified = s.select(names.map(n => col(n).cast(target(n)).as(n)): _*)
      siteColumn.fold(unified)(sc => unified.withColumn(sc, lit(loc)))
    }.reduce(_.unionByName(_))
  }

  // ----- workspace (file.cc:994–1023 workspace_save/load) -----

  /** Persist a set of named tables — the Kerf Tree snapshot
    * (/root/reference/cores.h:72) as a directory of Parquet datasets.
    * Each table writes to its OWN directory, so the write jobs are
    * independent — submitted concurrently through [[graft.ops.Par]]
    * instead of paying one write-job latency per table. */
  def workspaceSave(tables: Map[String, DataFrame], path: String): Unit =
    graft.ops.Par.all(tables.toSeq.map { case (name, df) =>
      () => df.write.mode(SaveMode.Overwrite).parquet(s"$path/$name") }: _*)

  /** Workspace save INCLUDING program state (the reference's
    * workspace_save persists the whole Kerf Tree — scalars and lambdas,
    * not just tables, file.cc:994–1023): tables as Parquet datasets,
    * the interpreter session's variables and `def`s as `_PROGRAM.json`
    * in the same directory via [[graft.sql.KerfSql.Interp.saveProgram]]. */
  def workspaceSave(tables: Map[String, DataFrame], path: String,
                    program: graft.sql.KerfSql.Interp): Unit = {
    workspaceSave(tables, path)
    program.saveProgram(path)
  }

  /** Restore: every table back, registered as temp views (the catalog
    * replaces Kerf's global tree). Tables that were published through
    * [[appendWithPromotion]] carry version dirs + a `_CURRENT` pointer:
    * [[promotedRead]] resolves exactly the live version (a direct parquet
    * read would union every version — duplicated rows). */
  def workspaceLoad(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val fs = new java.io.File(path).listFiles()
    if (fs == null) Map.empty
    else fs.filter(_.isDirectory).map { d =>
      val df = promotedRead(spark, d.getAbsolutePath)
      df.createOrReplaceTempView(d.getName)
      d.getName -> df
    }.toMap
  }

  /** Restore tables AND program state into a live interpreter session —
    * the full workspace_save→load→rerun round-trip of
    * /root/reference/test.cc:825–900. A tables-only workspace restores
    * tables and leaves the session untouched. */
  def workspaceLoad(spark: SparkSession, path: String,
                    program: graft.sql.KerfSql.Interp): Map[String, DataFrame] = {
    val tables = workspaceLoad(spark, path)
    program.loadProgram(path)
    tables
  }

  // ----- incrementally-maintained rollup (manifest-committed appends) -----
  //
  // The kdb EOD-aggregate pattern at folio scale: a per-key aggregate
  // (count / exact decimal sum / min / max per value column) maintained
  // INCREMENTALLY on append — each batch contributes one vocab-sized
  // partial merged with the stored rollup, so the 100 TB history is
  // never re-aggregated. Atomicity is the mini manifest log: a batch's
  // parquet dir becomes visible ONLY when the meta version that lists
  // it (manifest + merged rollup, one immutable tree) publishes via
  // the same stage-and-swap as every other folio artifact. A crash at
  // any point leaves either the old state (orphan batch dir, invisible
  // and vacuumable) or the new one — data and rollup can NEVER be
  // observed out of sync, the invariant a bolted-on aggregate cache
  // always breaks.

  private def rollupOf(df: DataFrame, keys: Seq[String],
                       valCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ valCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_cnt"),
          // exact, order-free on any partitioning — the q140/q158
          // decimal discipline; merge = plain sum of partials
          sum(col(c).cast(DecimalType(38, 6))).as(s"${c}_sum"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def mergeRollups(a: DataFrame, b: DataFrame, keys: Seq[String],
                           valCols: Seq[String]): DataFrame = {
    val aggs = Seq(sum(col("n_rows")).as("n_rows")) ++ valCols.flatMap { c =>
      Seq(sum(col(s"${c}_cnt")).as(s"${c}_cnt"),
          sum(col(s"${c}_sum")).as(s"${c}_sum"),
          min(col(s"${c}_min")).as(s"${c}_min"),
          max(col(s"${c}_max")).as(s"${c}_max"))
    }
    a.unionByName(b).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def rollupMetaDir(path: String) = s"$path/meta"

  private[graft] def rollupManifest(path: String): Seq[String] =
    currentVersion(rollupMetaDir(path)) match {
      case None => Nil
      case Some(v) =>
        val f = new java.io.File(s"${rollupMetaDir(path)}/$v", "_MANIFEST")
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    }

  /** The commit tag of the LIVE rollup version (None when the folio is
    * empty or the last commit carried no tag). The streaming sinks use
    * [[rollupCommitTags]] (the full applied set) as the replay guard;
    * this single-tag face remains for observability and legacy
    * single-writer guards. */
  def lastRollupCommitTag(path: String): Option[String] =
    currentVersion(rollupMetaDir(path)).flatMap { v =>
      val f = new java.io.File(s"${rollupMetaDir(path)}/$v", "_COMMIT_TAG")
      if (f.isFile)
        Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
      else None
    }

  // streaming commit tags carry (writer, batch) so the applied set can
  // compact: per checkpoint, Spark batch ids are MONOTONE, so only the
  // latest batch per writer needs retaining — the set stays
  // writer-count-sized forever, never micro-batch-count-sized
  private[graft] val StreamTagRe = raw"stream-batch:(.+):(\d+)".r
  // pre-writer-id spelling (no writer segment) — carried by folios that
  // committed batches before the upgrade; compacts like a writer of its
  // own (batch ids were monotone for the one legacy query too), so at
  // most ONE legacy tag ever lingers instead of one per ancient batch
  private[graft] val LegacyTagRe = raw"stream-batch:(\d+)".r
  // EPHEMERAL writer ids (checkpoint-DEFAULTED sinks) carry their mint
  // time: eph<millis-hex>-<random-hex>. Spark backs a defaulted query
  // with a temporary checkpoint, so its tags matter only for same-RUN
  // foreachBatch retries — cross-restart exactly-once needs a durable
  // checkpoint (the documented contract). Without an age-out, every
  // restart of a defaulted query leaves one permanent tag in the
  // applied set (writer count is unbounded across restarts); any later
  // publish therefore drops ephemeral tags older than the retention
  // window. The race this reopens — a defaulted run idle LONGER than
  // the window between a batch commit and that same batch's retry — is
  // not a real Spark retry shape (retries follow failures within
  // seconds). Pre-r16 random ids (bare 16-hex) are indistinguishable
  // from checkpoint-derived ids and are retained; growth stops for new
  // runs.
  private[graft] val EphWriterRe = raw"eph([0-9a-f]+)-[0-9a-f]+".r
  private[graft] val EphemeralTagRetentionMs: Long = 24L * 60 * 60 * 1000
  /** Is an EPHEMERAL tag past its retention window? The window anchors
    * on `anchorMs` — the tag's LAST COMMIT time from the
    * `_COMMIT_TAG_TIMES` sidecar — falling back to the writer id's mint
    * field for pre-sidecar files. The anchor must be the commit, not
    * the mint: a defaulted-checkpoint query with >24h of UPTIME keeps
    * one fixed mint for the whole run, and mint-anchored expiry would
    * strip its own just-committed tag from the applied set — reopening
    * the same-run retry double-apply the tag exists to prevent
    * (r16 review). */
  private[graft] def expiredEphemeralTag(tag: String, nowMs: Long,
                                         anchorMs: Option[Long] = None): Boolean =
    tag match {
      case StreamTagRe(EphWriterRe(ms), _) =>
        // a corrupt/forged mint field that overflows Long parses as
        // "never expires" rather than throwing inside a publish — the
        // age-out is hygiene, it must not be able to fail a commit
        anchorMs.orElse(
            scala.util.Try(java.lang.Long.parseLong(ms, 16)).toOption)
          .exists(_ < nowMs - EphemeralTagRetentionMs)
      case _ => false
    }

  /** Last-commit time per EPHEMERAL tag (the expiry anchor), carried in
    * a `_COMMIT_TAG_TIMES` sidecar beside `_COMMIT_TAGS`. Absent file
    * (pre-sidecar versions) → empty: expiry falls back to the writer
    * mint, the only anchor those files recorded. */
  private[graft] def rollupCommitTagTimes(path: String): Map[String, Long] =
    currentVersion(rollupMetaDir(path)).map { v =>
      val f = new java.io.File(s"${rollupMetaDir(path)}/$v", "_COMMIT_TAG_TIMES")
      if (!f.isFile) Map.empty[String, Long]
      else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .flatMap { line =>
          val i = line.lastIndexOf('\t')
          if (i < 0) None
          else scala.util.Try(line.substring(i + 1).toLong).toOption
            .map(ms => line.substring(0, i) -> ms)
        }.toMap
    }.getOrElse(Map.empty)
  private[graft] def compactTags(tags: Seq[String]): Seq[String] = {
    val (stream, rest) = tags.partition(StreamTagRe.matches(_))
    val (legacy, other) = rest.partition(LegacyTagRe.matches(_))
    val latest = stream.map { case StreamTagRe(w, n) => (w, n.toLong) }
      .groupMapReduce(_._1)(_._2)(math.max)
    val legacyMax = legacy.map { case LegacyTagRe(n) => n.toLong }
      .maxOption.map(n => s"stream-batch:$n")
    (other ++ legacyMax ++
      latest.toSeq.sortBy(_._1).map { case (w, n) => s"stream-batch:$w:$n" })
      .distinct
  }

  /** ALL applied commit tags of the live rollup version (compacted to
    * the latest batch per streaming writer). This is the replay guard
    * the streaming sinks check: unlike the single last tag, it stays
    * correct when TWO writers (distinct checkpoints) interleave on one
    * folio — writer A's crash re-delivery must skip even when writer
    * B's commit landed in between. A fresh checkpoint mints a fresh
    * writer id, so its batch 0 is never shadowed by an old writer's. */
  def rollupCommitTags(path: String): Set[String] =
    currentVersion(rollupMetaDir(path)).map { v =>
      val f = new java.io.File(s"${rollupMetaDir(path)}/$v", "_COMMIT_TAGS")
      val set =
        if (f.isFile)
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        else Nil
      // legacy versions (pre writer-id) carry only the single tag file
      (set ++ lastRollupCommitTag(path)).toSet
    }.getOrElse(Set.empty)

  /** Append `batch` and fold its partial into the stored rollup, as one
    * atomic commit. `keys`/`valCols` must match the folio's existing
    * rollup spec (validated from the stored schema). `commitTag` (if
    * given) publishes atomically WITH the data — the idempotence
    * breadcrumb for at-least-once writers (see [[lastRollupCommitTag]]). */
  def appendWithRollup(batch: DataFrame, path: String, keys: Seq[String],
                       valCols: Seq[String],
                       commitTag: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    require(keys.nonEmpty && valCols.nonEmpty, "rollup needs keys and value columns")
    (keys ++ valCols).foreach(c => require(batch.columns.contains(c),
      s"appendWithRollup: batch is missing column '$c'"))
    // the CAS basis: everything below (stored rollup, manifest, applied
    // tags) is read against THIS version, and the commit verifies no
    // other writer advanced it in between — two concurrent appenders
    // cannot both fold into the same base rollup and silently drop one
    // batch (ConcurrentPublishException for the loser instead)
    val base = currentVersion(rollupMetaDir(path))
    val prev = base match {
      case None => None
      case Some(v) =>
        val r = rollupVersion(spark, path, v)
        val expect = (Seq("n_rows") ++ valCols.flatMap(c =>
          Seq(s"${c}_cnt", s"${c}_sum", s"${c}_min", s"${c}_max")) ++ keys).toSet
        require(r.columns.toSet == expect,
          s"appendWithRollup: stored rollup schema ${r.columns.sorted.mkString(",")} " +
          s"does not match keys=$keys valCols=$valCols")
        Some(r)
    }
    // full batch-schema consistency across manifested dirs: rollupDataRead
    // reads them as ONE dataset with mergeSchema off, so a drifted column
    // would silently vanish or null depending on footer sampling — the
    // keys/valCols check above only covers the TRACKED columns
    val manifested = rollupManifest(path)
    if (manifested.nonEmpty) {
      val stored = Parquet.schemaOf(spark, manifested.head)
      require(batch.schema.fieldNames.sorted.sameElements(stored.fieldNames.sorted),
        s"appendWithRollup: batch columns (${batch.columns.sorted.mkString(", ")}) " +
        s"drift from the folio's (${stored.fieldNames.sorted.mkString(", ")}) — " +
        "rollupDataRead serves one schema")
      stored.foreach { f =>
        val b = batch.schema(f.name).dataType
        require(b == f.dataType,
          s"appendWithRollup: column '${f.name}' is ${f.dataType.simpleString} " +
          s"stored but ${b.simpleString} in the batch")
      }
    }
    // the batch dir is INVISIBLE until manifested — its name only
    // reaches readers through the atomically-published manifest
    val bdir = s"$path/batches/b_${System.nanoTime()}"
    batch.write.mode(SaveMode.ErrorIfExists).parquet(bdir)
    val partial = rollupOf(read(spark, bdir), keys, valCols)
    val merged = prev match {
      case None => partial
      case Some(r) => mergeRollups(r, partial, keys, valCols)
    }
    val manifest = (rollupManifest(path) :+ bdir).mkString("\n")
    // keep = 2: the aggregate-navigation rewrite (RollupRewriteRule)
    // pins the version it matched into an optimized plan; between plan
    // and task execution up to two appends could land, and keeping one
    // extra (vocab-sized) rollup version closes that read-after-GC
    // window instead of failing the pinned read
    publishArtifactsFrom(rollupMetaDir(path), base, keep = 2) { vdir =>
      // the previous rollup stays readable during this write (the
      // publish vacuum keeps live+fallback), so the lazy merge plan is
      // safe; the manifest and the merged rollup commit together
      merged.write.parquet(new java.io.File(vdir, "rollup").toString)
      java.nio.file.Files.write(new java.io.File(vdir, "_MANIFEST").toPath,
        manifest.getBytes("UTF-8"))
      writeCommitArtifacts(vdir, path, commitTag)
    }
  }

  /** Persist the replay-guard breadcrumbs into a manifest-log version
    * dir. The applied-tag SET carries forward on EVERY publish —
    * tagged or not: an untagged publish (a manual dialect append
    * interleaving with a streaming sink) must not wipe the set, or a
    * crashed stream's re-delivery would double-apply right after it
    * (the r14 review's untagged-publish hole). `_COMMIT_TAG` (the
    * single last tag) is written only when this publish carries one. */
  private[graft] def writeCommitArtifacts(vdir: java.io.File, path: String,
                                          commitTag: Option[String]): Unit = {
    commitTag.foreach { t =>
      java.nio.file.Files.write(new java.io.File(vdir, "_COMMIT_TAG").toPath,
        t.getBytes("UTF-8"))
    }
    val nowMs = System.currentTimeMillis()
    val priorTimes = rollupCommitTagTimes(path)
    // the publish's OWN tag anchors at nowMs (it IS a commit — never
    // expirable at its own publish, whatever its writer's mint age);
    // carried tags anchor at their recorded last commit, pre-sidecar
    // tags at their mint (the conservative fallback)
    def anchor(t: String): Option[Long] =
      if (commitTag.contains(t)) Some(nowMs) else priorTimes.get(t)
    val tags = compactTags(
      (rollupCommitTags(path) ++ commitTag).toSeq.sorted)
      .filterNot(t => expiredEphemeralTag(t, nowMs, anchor(t)))
    if (tags.nonEmpty) {
      java.nio.file.Files.write(new java.io.File(vdir, "_COMMIT_TAGS").toPath,
        tags.mkString("\n").getBytes("UTF-8"))
      // sidecar rows only for EPHEMERAL tags (the only expirable kind);
      // a retained pre-sidecar tag gets stamped nowMs once — at most
      // one extra retention window before it ages out
      val times = tags.collect {
        case t @ StreamTagRe(EphWriterRe(_), _) =>
          t -> anchor(t).getOrElse(nowMs)
      }
      if (times.nonEmpty)
        java.nio.file.Files.write(
          new java.io.File(vdir, "_COMMIT_TAG_TIMES").toPath,
          times.map { case (t, ms) => s"$t\t$ms" }
            .mkString("\n").getBytes("UTF-8"))
    }
  }

  /** The maintained aggregate — vocab-sized, no scan of the history. */
  def rollupRead(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(rollupMetaDir(path)).getOrElse(
      throw new IllegalArgumentException(s"no rollup published at $path"))
    rollupVersion(spark, path, v)
  }

  private def rollupVersion(spark: SparkSession, path: String, v: String): DataFrame =
    read(spark, s"${rollupMetaDir(path)}/$v/rollup")

  /** The raw rows — exactly the manifested batches (an orphan dir from
    * a crashed append is invisible here, by construction). */
  def rollupDataRead(spark: SparkSession, path: String): DataFrame = {
    val dirs = rollupManifest(path)
    require(dirs.nonEmpty, s"no rollup batches manifested at $path")
    spark.read.parquet(dirs: _*)
  }

  /** Register the rollup's raw-data frame as a temp view AND enroll
    * the folio for AGGREGATE NAVIGATION: with
    * `spark.graft.rollup.rewrite=true`, a mergeable aggregate over
    * this view rewrites to re-aggregate the maintained rollup instead
    * of scanning the history (see
    * [[graft.plans.RollupRewriteRule]]). */
  def rollupDataView(spark: SparkSession, path: String,
                     viewName: String): DataFrame = {
    graft.plans.RollupRewriteRule.register(spark, path)
    val df = rollupDataRead(spark, path)
    df.createOrReplaceTempView(viewName)
    df
  }

  // ── histogram rollup: maintained quantiles ─────────────────────────

  /** Grid bucket id for the histogram rollup: −1 underflow, `nBuckets`
    * overflow, else floor((v − lo)/width). Pure IEEE arithmetic, so any
    * engine derives the identical bucket from the identical row. */
  def histBucket(v: Column, lo: Double, width: Double, nBuckets: Int): Column =
    when(v.isNull, lit(null).cast("long"))
      .when(v < lo, lit(-1L))
      .when(v >= lo + width * nBuckets, lit(nBuckets.toLong))
      .otherwise(floor((v - lo) / width).cast("long"))

  /** The grid IS part of the column name, so [[appendWithRollup]]'s
    * stored-schema check rejects a drifted grid loudly — no separate
    * spec file to keep in sync. */
  private def histColName(lo: Double, width: Double, nBuckets: Int): String =
    s"__hb_${lo}_${width}_$nBuckets".replaceAll("[^A-Za-z0-9_]", "_")

  /** HISTOGRAM rollup — quantiles over 100 TB without scanning it.
    *
    * The maintained-rollup protocol ([[appendWithRollup]]: manifest-log
    * atomicity, history never re-aggregated) applied to the derived key
    * (keys × grid bucket): each append folds per-bucket count/sum/min/max
    * into a (|keys| × nBuckets)-row aggregate — vocab-sized state, exact
    * and mergeable (counts add; min/min, max/max), unlike a quantile
    * SKETCH whose merge is approximate and engine-specific. Quantile
    * queries then read the histogram, not the data: rank → bucket by
    * cumulative count, interpolate within the bucket, and the bucket's
    * exact min/max BRACKET the true quantile (error ≤ bucket width,
    * tighter where data is dense). Same navigation economics as
    * [[rollupRead]]/RollupRewriteRule, extended from mergeable moments
    * to order statistics. */
  def appendWithHistogram(batch: DataFrame, path: String, keys: Seq[String],
                          valCol: String, lo: Double, width: Double,
                          nBuckets: Int,
                          commitTag: Option[String] = None): Unit = {
    require(width > 0 && nBuckets >= 1,
      s"histogram needs width > 0 and nBuckets >= 1, got $width / $nBuckets")
    val b = histColName(lo, width, nBuckets)
    appendWithRollup(
      batch.withColumn(b, histBucket(col(valCol), lo, width, nBuckets)),
      path, keys :+ b, Seq(valCol), commitTag)
  }

  /** Per-(key, q) quantile navigation over the maintained histogram:
    * rank = max(1, ceil(q·n)); the hit bucket is the first whose
    * cumulative count reaches the rank; `est` interpolates linearly
    * within the bucket and is clamped into the bucket's EXACT observed
    * [min, max] (also returned as `lo_bound`/`hi_bound` — the true
    * quantile provably lies between them). Every step is deterministic
    * IEEE arithmetic over the histogram counts, so an independent
    * engine replays it bit-for-bit from the raw rows. */
  def histogramQuantiles(spark: SparkSession, path: String,
                         keys: Seq[String], valCol: String,
                         lo: Double, width: Double, nBuckets: Int,
                         qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1], got $qs")
    val b = histColName(lo, width, nBuckets)
    val r = rollupRead(spark, path)
    require(r.columns.contains(b),
      s"histogram grid mismatch: stored rollup has no '$b' column " +
      s"(grids present: ${r.columns.filter(_.startsWith("__hb_")).mkString(",")})")
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(b)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val cnt = col(s"${valCol}_cnt")
    val withCum = r.filter(col(b).isNotNull)
      .withColumn("__cum", sum(cnt).over(wCum))
      .withColumn("__total", sum(cnt).over(wAll))
    // LocalRelation, not range(1)+explode: the broadcast build collects
    // a LocalTableScan driver-side without scheduling a job
    val qFrame = { import spark.implicits._; qs.toDF("q") }
    val hits = withCum.crossJoin(broadcast(qFrame))
      .withColumn("rank", greatest(ceil(col("q") * col("__total")), lit(1L)))
      .filter(col("__cum") >= col("rank") &&
              (col("__cum") - cnt) < col("rank"))
    val est0 = lit(lo) + lit(width) *
      (col(b).cast("double") +
        (col("rank") - (col("__cum") - cnt)).cast("double") / cnt.cast("double"))
    hits.select(
      keys.map(col) ++ Seq(
        col("q"), col("rank"),
        least(greatest(est0, col(s"${valCol}_min")), col(s"${valCol}_max")).as("est"),
        col(s"${valCol}_min").as("lo_bound"),
        col(s"${valCol}_max").as("hi_bound")): _*)
  }

  /** Reap batch dirs no manifest (live or fallback) references — the
    * crash leftovers of interrupted appends. Returns removed names.
    *
    * `graceMs`: an appendWithRollup writes its batch dir BEFORE the
    * manifest that makes it visible, so a vacuum racing a live append
    * would see a not-yet-manifested dir as an orphan and delete it out
    * from under the writer (the publish would then manifest a missing
    * path — every subsequent read fails). Dirs younger than the grace
    * window are left alone; a genuinely crashed orphan is reaped by
    * the next cadence run once it ages past the window. Pass 0 only
    * when no writer can be live (tests, decommission).
    *
    * Plan/execute window (ADVICE r13): [[graft.plans.RollupRewriteRule]]
    * pins the live version at PLAN time and the pinned rollup parquet is
    * eagerly read then, but a long-queued query still re-reads the
    * pinned dir at EXECUTE time — the live+fallback floor tolerates one
    * append landing in between; two appends plus a vacuum inside the
    * window turn the pinned dir into a runtime file-not-found (a loud
    * failure, never a wrong answer). Single-writer cadence (append ≫
    * plan-to-execute latency) makes this unreachable in practice; a
    * deployment with aggressive vacuum cadence should keep a deeper
    * floor by vacuuming less often, not by widening graceMs. */
  def rollupVacuum(path: String, graceMs: Long = 10 * 60 * 1000L): Seq[String] = {
    val meta = rollupMetaDir(path)
    val keep: Set[String] = (currentVersion(meta) match {
      case None => Nil
      case Some(v) =>
        val n = v.stripPrefix("v").toLong
        Seq(v, f"v${n - 1}%08d").flatMap { vn =>
          val f = new java.io.File(s"$meta/$vn", "_MANIFEST")
          if (f.isFile)
            new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
              .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          else Nil
        }
    }).map(p => new java.io.File(p).getName).toSet
    val broot = new java.io.File(path, "batches")
    val cutoff = System.currentTimeMillis() - graceMs
    Option(broot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !keep.contains(d.getName) &&
        d.lastModified() < cutoff)
      .map { d => rmTree(d); d.getName }.toSeq.sorted
  }
}
