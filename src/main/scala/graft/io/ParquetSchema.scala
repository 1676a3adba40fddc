package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.FileIndexNames
import org.apache.spark.sql.types.StructType

/** The one way this package learns a parquet table's schema: one
  * data file's footer, read on the driver and converted by Spark's
  * own footer code under the session's `SQLConf` (so `nanosAsLong`,
  * int96 and NTZ behave as in inference). Spark's inference without
  * `mergeSchema` reads one footer too, but in a Spark job on every
  * plain `spark.read.parquet`; a read handed this schema runs none.
  * Partition columns are not in the footer: Spark still infers them
  * from the directory names on the driver, so the read's output
  * schema equals a plain read's (ParquetSchemaSpec pins it on every
  * table shape the project reads). Like inference, this assumes a
  * table's files share one schema; the CowTable changelog, whose
  * batches may differ, unions its files' [[ofFooter]] schemas.
  */
object ParquetSchema {

  /** The data schema of the first data file under `paths`, in order:
    * a file path is itself; a directory is walked in name order into
    * its subdirectories, skipping what Spark's file index skips
    * (`_`/`.` names) and summary files. Throws naming the paths when
    * none holds a data file (a missing path holds none).
    */
  def of(spark: SparkSession, paths: String*): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = try Some(fs.getFileStatus(path))
        catch { case _: FileNotFoundException => None }
      st.flatMap(firstDataFile(fs, _))
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"no parquet data file under ${paths.mkString(", ")} to read " +
        "a schema from"))
    ofFooter(spark, footer(spark, file))
  }

  /** One file's footer, read on the driver. */
  def footer(spark: SparkSession, file: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file,
      spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** The Spark schema of one file's footer. Spark's conversion reads
    * only the footer's metadata, never the wrapper's file path.
    */
  def ofFooter(spark: SparkSession, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(null, footer),
      new ParquetToSparkSchemaConverter(spark
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf))

  /** A parquet read of `paths` at the schema [[of]] them. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(of(spark, paths: _*)).parquet(paths: _*)

  private def firstDataFile(fs: FileSystem, st: FileStatus)
      : Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
      .filter { c =>
        val n = c.getPath.getName
        !FileIndexNames.hidden(n) && (c.isDirectory || !n.startsWith("_"))
      }
      .flatMap(firstDataFile(fs, _)).nextOption()
}
