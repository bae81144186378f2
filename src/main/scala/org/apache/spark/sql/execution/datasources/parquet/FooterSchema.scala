package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import scala.util.control.Exception.catching

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema Spark's parquet inference gives one parquet file, read from
  * that file's footer on the driver. Spark's inference of a single file
  * launches a one-task job to read the same footer; this object calls the
  * footer reader and the footer-to-schema conversion that job runs
  * (`readParquetFootersInParallel`, `readSchema`: both `private[parquet]`,
  * hence this package), so the Spark row metadata, `nanosAsLong`, INT96
  * and TIMESTAMP_NTZ rules stay Spark's own.
  *
  * [[of]] answers `None`, and the caller keeps Spark's inference, when
  * the path is a directory (a partitioned or multi-file layout, where a
  * second driver listing would cost more than the one-task job), when
  * `spark.sql.parquet.mergeSchema` is on, when the path does not exist
  * (Spark's read reports that error) and when the footer yields no schema
  * (a corrupt footer under `ignoreCorruptFiles`). The driver reads one
  * footer, whatever the file's size. */
object FooterSchema {

  def of(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (state.conf.isParquetSchemaMergingEnabled) None
    else {
      val hadoopConf = state.newHadoopConf()
      val p = new Path(path)
      catching(classOf[FileNotFoundException])
        .opt(p.getFileSystem(hadoopConf).getFileStatus(p))
        .filterNot(_.isDirectory)
        .flatMap { status =>
          ParquetFileFormat.readSchema(
            ParquetFileFormat.readParquetFootersInParallel(
              hadoopConf, Seq(status), state.conf.ignoreCorruptFiles),
            spark)
        }
    }
  }
}
