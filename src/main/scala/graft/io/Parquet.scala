package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Single-root parquet reads whose schema comes from one footer, read on
  * the driver. `spark.read.parquet` infers the schema with a Spark job
  * (one task that opens that same footer) on every read; Kerf opens a
  * stored table by mapping it, with no scan (reference file.cc:935–990).
  * Here the footer is read directly — file metadata only, no row groups —
  * and handed to the reader as its schema, so building the frame runs no
  * job.
  *
  * The footer is the one Spark's own inference picks with `mergeSchema`
  * off: `_common_metadata`, else `_metadata`, else the first data file by
  * full path, after dropping hidden `_`/`.` entries as `InMemoryFileIndex`
  * does. Partition columns are still discovered by Spark from the
  * directory names. No schema is cached: a footer read costs a few ms and
  * is never stale. A root with no file to read (missing, empty, or a
  * layout this pick does not cover) goes to `spark.read.parquet`, which
  * answers by inference or raises Spark's own error, wrapped to name the
  * path where Spark's message does not. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        // PATH_NOT_FOUND names the path; UNABLE_TO_INFER_SCHEMA does not
        try spark.read.parquet(path) catch {
          case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
            throw new IllegalArgumentException(s"no parquet data file at $path", e)
        }
    }

  /** The schema `spark.read.parquet(path)` would infer, partition columns
    * included, with no Spark job. */
  def schemaOf(spark: SparkSession, path: String): StructType = read(spark, path).schema

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    schemaFile(new Path(path), conf).map { f =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  private def schemaFile(root: Path, conf: org.apache.hadoop.conf.Configuration): Option[FileStatus] = {
    val fs = root.getFileSystem(conf)
    val top = try fs.getFileStatus(root) catch { case _: java.io.FileNotFoundException => return None }
    if (!top.isDirectory) return Some(top)
    // Spark lists only the root's own files unless the layout is
    // partitioned; files under `k=v` dirs (and anything below them) count
    def leaves(dir: Path, inPartition: Boolean): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (inPartition || s.getPath.getName.contains("=")) leaves(s.getPath, inPartition = true)
        else Nil
      }
    val files = leaves(top.getPath, inPartition = false).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
  }

  /** `HadoopFSUtils.shouldFilterOutPathName`: the entries a file index skips. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}
