package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query (SURVEY §7.3): per-user hourly value rollup over the
    * ns-stamped events table — scan→filter→group→agg→sort end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q14_hourly_buckets(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** The queries a name filter picks, sorted by name. A token picks the
    * query it names and every query named `<token>_…`, so `q11` is
    * `q11_*` and never q110–q119. Blank tokens are dropped; with none
    * left, every query is picked. Picking nothing is a loud error, never
    * a green run of zero queries. */
  def select(tokens: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ts = tokens.map(_.trim).filter(_.nonEmpty)
    val picked = queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      ts.isEmpty || ts.exists(t => n == t || n.startsWith(t + "_")) }
    require(picked.nonEmpty, s"no query matches ${ts.mkString(",")}")
    picked
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.all
}
