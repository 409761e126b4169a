package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(path)` without a schema infers one before it can
  * plan, and Spark reads that footer inside a one-task Spark job even
  * when it touches a single file. On an interactive query the job and
  * its scheduling gap cost ~100 ms of wall for ~3 ms of task time
  * (`q_agg_stats`, traced on a 4-core local session). [[read]] reads
  * the footer that Spark's non-merging inference would read, the first
  * visible data file in path order, with Spark's own precedence: the
  * Spark row-metadata JSON when the file carries it, else the parquet
  * schema converted under the session's SQL conf (so `nanosAsLong`,
  * INT96 and NTZ inference behave as under inference). The result is
  * passed as an explicit schema, so the scan plans as before and no job
  * starts. Partition columns of `k=v` directories are still inferred
  * from the paths, as they are with inference.
  *
  * graft writes no parquet summary files (`_metadata`,
  * `_common_metadata`), which inference would prefer over data files;
  * like every `_`- or `.`-prefixed name they are skipped here.
  */
object Parquet {

  /** `s.read.parquet(paths: _*)` with the footer schema. With no data
    * file under the paths, Spark's own read raises its error
    * (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`). */
  def read(s: SparkSession, paths: String*): DataFrame =
    footerSchema(s, paths: _*) match {
      case Some(schema) => s.read.schema(schema).parquet(paths: _*)
      case None => s.read.parquet(paths: _*)
    }

  /** Data schema of the first visible data file under `paths` (glob,
    * file or directory, searched recursively), if there is one. */
  def footerSchema(s: SparkSession, paths: String*): Option[StructType] =
    footer(s, paths: _*).map(sparkSchema(s, _))

  /** Footer (row groups skipped) of the first visible data file under
    * `paths`, if there is one. */
  def footer(s: SparkSession, paths: String*): Option[Footer] = {
    val conf = s.sessionState.newHadoopConf()
    val first = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leafFiles(fs, _))
    }.minByOption(_.getPath.toString)
    first.map(f => new Footer(f.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)))
  }

  /** The Spark schema of `footer` under the session's SQL conf. */
  def sparkSchema(s: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(s.sessionState.conf))

  /** Spark's file-index rule: `_`/`.`-prefixed names (`_SUCCESS`,
    * `_temporary`, `.crc` files) are not data, `k=v` dirs are. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => hidden(c.getPath.getName)).flatMap(leafFiles(fs, _))
}
