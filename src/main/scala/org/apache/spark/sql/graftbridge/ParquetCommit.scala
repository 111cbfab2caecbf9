package org.apache.spark.sql.graftbridge

import java.io.IOException
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** One parquet data file written and committed on the driver, with the
  * writer a Spark write task uses, without the task: the conf, footer,
  * encodings and compression are the ones Spark's own write of the same
  * schema under the same session conf and `options` would give. */
object ParquetCommit {

  /** Writes `rows` into the directory `dir` as one file, first under a
    * hidden `.`-prefixed name, which file indexes skip, then renamed to a
    * `part-…-c000` data file name: that one rename is the commit. A write
    * that fails before it leaves at most the hidden file. `options` are
    * the writer options a Spark write would pass (they reach the Hadoop
    * conf). Returns the committed file. */
  def commit(
      spark: SparkSession, options: Map[String, String], dir: Path, schema: StructType,
      rows: Iterator[InternalRow]): Path = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val job = Job.getInstance(state.newHadoopConfWithOptions(options))
    val factory = ParquetUtils.prepareWrite(state.conf, job, schema, new ParquetOptions(options, state.conf))
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}"
    val (hidden, visible) = (new Path(dir, s".$name"), new Path(dir, name))
    val writer = factory.newInstance(hidden.toString, schema, context)
    try rows.foreach(writer.write) finally writer.close()
    if (!dir.getFileSystem(job.getConfiguration).rename(hidden, visible))
      throw new IOException(s"could not rename $hidden to $visible")
    visible
  }
}
