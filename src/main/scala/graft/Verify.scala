package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional query filter, the same as Bench's SPARK_GRAFT_ONLY
    val picked = SparkEntry.select(args.drop(2).toSeq)
    val spark = Engine.session()
    // preflight: one loud named failure on fixture schema drift, instead
    // of 27 scattered per-query analysis errors (round-9 lesson)
    FixtureCanary.check(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      // clear any PREVIOUS run's output first: a query that fails before
      // its overwrite would otherwise leave stale parquet behind, and the
      // downstream oracle compare would pass GREEN against old results —
      // a broken query reported correct
      graft.tools.Fs.deleteRecursively(new java.io.File(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.tools.JsonText.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
