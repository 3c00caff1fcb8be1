package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Package-placed bridge to Spark's `private[parquet]` footer-to-schema
  * code, the same code Spark's schema-inference task runs, called on the
  * driver instead. The footer is read as that task reads it (row groups
  * skipped), on the calling thread: Spark's `readParquetFootersInParallel`
  * would build and shut down a thread pool for the one file.
  */
object GraftFooter {

  /** The schema Spark's non-merging parquet inference gives `path`, read
    * from the one footer that inference reads: the path itself if it is
    * a file, else the directory's first data file by sorted path, with
    * `_*` and `.*` names skipped as Spark's file index skips them. None
    * where that rule does not settle the answer (schema merging on, a
    * missing path, a directory with no data file or with subdirectories,
    * an unreadable footer); the caller then lets Spark infer, so Spark's
    * own result or error stands.
    */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    def hidden(f: FileStatus): Boolean =
      f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith(".")
    if (state.conf.isParquetSchemaMergingEnabled) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(p)
      val file =
        if (!status.isDirectory) Some(status)
        else {
          val visible = fs.listStatus(p).toSeq.filterNot(hidden)
          if (visible.exists(_.isDirectory)) None
          else visible.sortBy(_.getPath.toString).headOption
        }
      file.map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(state.conf))
      }
    } catch { case NonFatal(_) => None }
  }
}
