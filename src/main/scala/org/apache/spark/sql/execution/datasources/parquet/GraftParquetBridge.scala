package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's package-private parquet footer-to-schema code
  * (`ParquetFileFormat.readSchemaFromFooter`), so a reader can compute the
  * schema Spark would infer without the one-task Spark job its inference
  * runs (`mergeSchemasInParallel` always schedules one, even for a single
  * file).
  */
object GraftParquetBridge {
  // the summary files Spark's inference prefers, in its order
  private val summaries =
    Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The schema `spark.read.parquet(path)` would infer, read on the driver
    * from one footer: the file Spark's non-merging inference picks
    * (`ParquetUtils.inferSchema`) — `path` itself, or in a directory the
    * `_common_metadata` summary, else `_metadata`, else the first data file
    * by path, skipping the names Spark's listing hides (`_x`, `.x`) —
    * converted under the session's SQL conf (binary-as-string, INT96,
    * TIMESTAMP_NTZ inference, nanos-as-long, the Spark row metadata).
    *
    * None where only Spark's own inference gives the answer: schema
    * merging on, a glob, a missing or empty path (Spark raises its own
    * PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA), a directory with
    * subdirectories (partition discovery adds columns), or a footer that
    * cannot be read (Spark skips it or raises its own error, as the
    * session's `ignoreCorruptFiles` says).
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    val p = new Path(path)
    if (sqlConf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(p)) return None
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val st = try fs.getFileStatus(p) catch { case _: FileNotFoundException => return None }
    val file: Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else {
        val kids = fs.listStatus(p)
          .filterNot(k => HadoopFSUtils.shouldFilterOutPathName(k.getPath.getName))
        if (kids.exists(_.isDirectory)) None
        else summaries.flatMap(n => kids.find(_.getPath.getName == n)).headOption
          .orElse(kids.filterNot(k => summaries.contains(k.getPath.getName))
            .minByOption(_.getPath.toString))
      }
    for {
      f <- file
      meta <- try Some(ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
        catch { case NonFatal(_) => None }
    } yield ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(sqlConf))
  }
}
