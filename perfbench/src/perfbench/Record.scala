package perfbench

import scala.jdk.CollectionConverters._

/** Records the expected digests of the interactive and corpus queries.
  *
  * {{{ perfbench.Record --data SF_DIR --out DIR }}}
  * Writes `DIR/expected.json` and, for the DuckDB oracle
  * (`scripts/oracle_check.py SF_DIR DIR`), each digested answer as parquet
  * under `DIR/<query>` plus `DIR/oracle_sql.json`. `perfbench/run.py
  * --record` runs both and keeps the digests only when the oracle passes. */
object Record {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (data, out) = (opt("data"), opt("out"))
    val spark = graft.Engine.session()
    val names = (Workloads.interactive ++ Workloads.corpus).map(_._1)
    val entries = names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      val rows = df.collect().toSeq
      val ordered = Digest.totallyOrdered(df, rows)
      spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$q")
      System.err.println(s"[record] $q rows=${rows.size} ordered=$ordered")
      s"  ${Json.str(q)}: {\"rows\": ${rows.size}, \"ordered\": $ordered, " +
        s"\"digest\": ${Json.str(Digest.of(rows, ordered))}}"
    }
    val oracle = names.map(q => s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",\n", "}\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/expected.json"),
      s"{\"data\": ${Json.str(new java.io.File(data).getName)},\n" +
        s"\"documents\": ${graft.Tables.documents(spark, data).count()},\n\"queries\": {\n" +
        entries.mkString(",\n") + "\n}}\n")
    spark.stop()
  }
}
