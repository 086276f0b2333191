package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixtures (TESTDATA.md). Each is a lazy
  * DataFrame over parquet — the Spark analog of the reference's
  * memory-mapped drive objects (reference file.cc:935–990): the schema
  * comes from the file's footer on the driver ([[graft.io.Parquet]]), so
  * not even a Spark job runs at construction; nothing is materialized
  * until an action, and scans are partition/row-group pruned.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Parquet.read(spark, s"$dir/$name.parquet")

  /** Fan a CPU-heavy-per-row stage out to all cores when the byte-based
    * split heuristic under-partitions (a 0.5 MB parquet of 50k documents
    * is one partition — and one core — however expensive the per-row
    * work). No-op when the input is already split at least as wide as the
    * cluster, so it costs nothing at real scale where inputs arrive as
    * many files; locally it converts serial minhash/sketch stages into
    * 32-way parallel ones. */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // width estimate from the file listing + optimizer stats (analysis
    // only — `df.rdd.getNumPartitions` materialized the physical plan
    // AND the RDD lineage on every call). #files approximates task
    // count because the default 4 MB filesOpenCostInBytes makes the
    // packer charge every small file ~4 MB, so small files land ~one
    // per split; the bytes term covers the single-huge-file case, which
    // splits by maxPartitionBytes and must NOT be shrunk through a
    // repartition. (A deployment that lowers openCostInBytes packs
    // more files per task and should lower this estimate to match.)
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    // stats.sizeInBytes on an unstatted leaf (LogicalRDD, local relation)
    // is the defaultSizeInBytes SENTINEL (Long.MaxValue by default) — not
    // a size. Taken at face value it makes est >= target always and
    // silently disables the fan-out for every non-file-backed frame, so
    // fall back to the file-listing term alone when we see it.
    val statBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // a Project/Aggregate ABOVE an unstatted leaf scales the sentinel by
    // a width ratio, producing a huge non-sentinel value — so for a
    // frame with no file backing at all (inputFiles empty) the stats
    // term is never trusted: AT-OR-ABOVE the sentinel means unstatted
    val bytesTerm =
      if (statBytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes) ||
          df.inputFiles.isEmpty) BigInt(0)
      else statBytes / maxPart + 1
    val est = BigInt(df.inputFiles.length) max bytesTerm
    if (est < target) df.repartition(target) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Normalize an events frame to the engine's dual-column convention —
    * every downstream query/stream sees BOTH:
    *   - `ts_ns`: exact nanosecond long (full Kerf STAMP fidelity,
    *     /root/reference/enums.h:166),
    *   - `ts`:    µs TimestampType (for date_trunc/window built-ins).
    * Schema-adaptive because the fixture has shipped both ways: a
    * ns-annotated int64 (read as LongType under `nanosAsLong`) and a
    * plain timestamp[µs]. Dispatch is on the STATIC read schema, so the
    * chosen branch is a plan-time projection — zero per-row cost.
    */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          // FLOOR to the µs grid — (x - pmod(x,1000)) div 1000, all
          // integer: plain `div` truncates toward zero, which rounds a
          // PRE-EPOCH off-grid ns UP (one µs late, breaking ts/ts_ns
          // boundary-filter agreement); float `/` is worse — ns epochs
          // (~1.7e18) overflow double's 53-bit mantissa entirely.
          .withColumn("ts", timestamp_micros(
            expr("(ts_ns - pmod(ts_ns, 1000)) div 1000")))
      case TimestampType | TimestampNTZType =>
        // NTZ → session-tz timestamp is the IDENTITY on the stored µs value
        // under the engine's pinned UTC session (Engine.scala), and keeps
        // every downstream comparison against timestamp_micros()/
        // unix_timestamp() (both TimestampType) analyzable.
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(load(spark, dir, "events"))
}
