package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's parquet schema inference for one file, run on the driver: the
  * footer read and conversion its one-task inference job runs, without
  * the job. */
object ParquetSchemas {

  /** Whether a file index skips the name (`_` and `.` names, in-flight
    * copies) or keeps it only as a summary file (`_metadata`,
    * `_common_metadata`): either way it is not a data file. */
  def notData(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name) || name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The data schema Spark infers from `file`'s footer: the schema Spark
    * stored there when it wrote the file, else the parquet schema
    * converted under the session's conf. */
  def fromFooter(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration), SKIP_ROW_GROUPS)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(conf))
  }

  /** [[fromFooter]] as a read of the file's unpartitioned directory
    * returns it: a file source reads every field as nullable. */
  def asRead(spark: SparkSession, file: FileStatus): StructType = fromFooter(spark, file).asNullable
}
