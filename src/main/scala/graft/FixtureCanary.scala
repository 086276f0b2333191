package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Fixture-drift preflight. The driver regenerates /root/testdata between
  * rounds and has already changed a column's physical type once (events.ts:
  * ns-int64 → timestamp[µs], which silently broke 27 queries). This canary
  * turns any such drift into ONE loud, named failure up front instead of a
  * scatter of per-query analysis errors.
  *
  * Checks, per table: expected columns present (extra columns are allowed —
  * additive drift is non-breaking) and each expected column's type within
  * the loader's accepted set.
  */
object FixtureCanary {
  /** Acceptable types per column. Multiple entries = the loader adapts
    * (e.g. Tables.normalizeEvents for events.ts). */
  private def ts = Seq(LongType, TimestampType, TimestampNTZType)
  // integer-width drift (int32 ↔ int64) is non-breaking: Spark widens in
  // comparisons/joins and DuckDB's oracle does the same — only FLAG a
  // change of KIND (int → string, int → timestamp, …)
  private def int = Seq(IntegerType, LongType)
  private def date = Seq(TimestampType, TimestampNTZType, DateType)
  private def t(pairs: (String, Seq[DataType])*) = pairs.toMap

  val expected: Map[String, Map[String, Seq[DataType]]] = Map(
    "region"   -> t("r_regionkey" -> int, "r_name" -> Seq(StringType)),
    "nation"   -> t("n_nationkey" -> int, "n_regionkey" -> int,
                    "n_name" -> Seq(StringType)),
    "customer" -> t("c_custkey" -> int, "c_nationkey" -> int,
                    "c_mktsegment" -> Seq(StringType), "c_acctbal" -> Seq(DoubleType)),
    "supplier" -> t("s_suppkey" -> int, "s_nationkey" -> int),
    "part"     -> t("p_partkey" -> int, "p_retailprice" -> Seq(DoubleType)),
    "orders"   -> t("o_orderkey" -> int, "o_custkey" -> int,
                    "o_totalprice" -> Seq(DoubleType), "o_orderdate" -> date),
    "lineitem" -> t("l_orderkey" -> int, "l_partkey" -> int,
                    "l_suppkey" -> int, "l_linenumber" -> int,
                    "l_quantity" -> Seq(DoubleType), "l_extendedprice" -> Seq(DoubleType),
                    "l_discount" -> Seq(DoubleType), "l_tax" -> Seq(DoubleType),
                    "l_returnflag" -> Seq(StringType), "l_linestatus" -> Seq(StringType),
                    "l_shipdate" -> date),
    "events"   -> t("event_id" -> int, "ts" -> ts,
                    "user_id" -> int, "event_type" -> Seq(StringType),
                    "value" -> Seq(DoubleType), "props" -> Seq(StringType)),
    "documents" -> t("doc_id" -> int, "text" -> Seq(StringType),
                     "lang" -> Seq(StringType), "source" -> Seq(StringType),
                     "n_chars" -> int),
    "embeddings" -> t("vec_id" -> int,
                      "embedding" -> Seq(ArrayType(FloatType), ArrayType(FloatType, false)),
                      "label" -> int)
  )

  /** Returns drift messages (empty = clean). Pure check, no throwing. */
  def drift(spark: SparkSession, sfDir: String): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val path = s"$sfDir/$table.parquet"
      if (!new java.io.File(path).exists()) Seq(s"$table: fixture file missing at $path")
      else {
        val schema = graft.io.Parquet.schemaOf(spark, path)
        val byName = schema.fields.map(f => f.name -> f.dataType).toMap
        cols.toSeq.sortBy(_._1).flatMap { case (col, ok) =>
          byName.get(col) match {
            case None =>
              Some(s"$table.$col: MISSING (present: ${schema.fieldNames.mkString(", ")})")
            case Some(dt) if !ok.contains(dt) =>
              Some(s"$table.$col: type drift — got $dt, loader accepts ${ok.mkString("/")}")
            case _ => None
          }
        }
      }
    }

  /** Loud preflight: print every drift line; throw if any. */
  def check(spark: SparkSession, sfDir: String): Unit = {
    val d = drift(spark, sfDir)
    if (d.nonEmpty) {
      d.foreach(m => System.err.println(s"[fixture-drift] $m"))
      throw new IllegalStateException(
        s"fixture schema drift in $sfDir (${d.size} problem(s)):\n  ${d.mkString("\n  ")}")
    }
  }
}
