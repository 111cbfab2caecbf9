package graft.io

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.graftbridge.{ParquetCommit, ParquetSchemas}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Storage seam (SURVEY.md §7.1.9). Production binds this to Iceberg
  * (`spark.read.format("iceberg")`, append snapshots, a manifest table);
  * the sandbox has no Iceberg runtime jar, so the default implementation is
  * hive-partitioned parquet with the same layout and the same append/anti-join
  * resume contract. Swapping implementations changes no job code.
  */
trait TableIO {
  def readTable(spark: SparkSession, name: String): DataFrame
  def appendTable(df: DataFrame, name: String): Unit
  /** Append `rows`, already on the driver, as one data file in one
    * commit, under [[appendTable]]'s schema contract and without a Spark
    * job: the commit of a table that gains a few rows at a time, such as
    * the manifest. No rows, no file. Iceberg: a driver-side
    * `newAppend().appendFile(...).commit()`. */
  def appendRows[T](spark: SparkSession, rows: Seq[T], name: String)(implicit encoder: Encoder[T]): Unit
  /** Overwrite only the hive partitions present in `df` (Iceberg: dynamic
    * partition overwrite). */
  def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit
  def tableExists(spark: SparkSession, name: String): Boolean
}

/** Parquet implementation rooted at a warehouse directory.
  *
  * Writes to a local warehouse (no scheme on a local default filesystem,
  * or `file:`) bind [[ForkFreeLocalFileSystem]] for that write: Hadoop's
  * stock local filesystem forks a `chmod` process for every file, `.crc`
  * sidecar and directory it creates, which made process creation the
  * largest cost of `ExtractJob.run`'s results write. The files, bytes and
  * modes on disk are the same. Reads fork nothing and keep the stock
  * filesystem; warehouses on other schemes run as before.
  *
  * A read takes its schema from one footer, read on the driver:
  * `spark.read.parquet(dir)` would infer it in a one-task Spark job that
  * reads that same footer. The file is the first data file Spark's file
  * index lists (a directory's files before its subdirectories', hidden
  * `_`/`.` names skipped), found by listing one directory per level; its
  * footer is converted by Spark's own code
  * ([[org.apache.spark.sql.graftbridge.ParquetSchemas]]). The read then
  * passes that data schema to `spark.read.schema(...)`, and Spark still
  * discovers the partition columns from the paths. A directory with no
  * data file reads as `spark.read.parquet` does, and fails as it does.
  * Partition discovery itself is Spark's: a level of more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories is
  * listed by a Spark job.
  */
final class ParquetTableIO(warehouse: String) extends TableIO {
  private def path(name: String) = s"$warehouse/$name"
  private def writer(df: DataFrame) = df.write.options(ForkFreeLocalFileSystem.writeOptions(df.sparkSession, warehouse))

  override def readTable(spark: SparkSession, name: String): DataFrame =
    read(spark, name, firstDataFile(spark, new Path(path(name))).map(_._1))

  /** The table read with the data schema of `file`, its first data file. */
  private def read(spark: SparkSession, name: String, file: Option[FileStatus]): DataFrame = file match {
    case Some(f) => spark.read.schema(ParquetSchemas.fromFooter(spark, f)).parquet(path(name))
    case None => spark.read.parquet(path(name))
  }

  /** The first data file under `dir`, and whether `dir` holds a
    * subdirectory (so a read discovers partition columns). */
  private def firstDataFile(spark: SparkSession, dir: Path): Option[(FileStatus, Boolean)] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def list(d: Path) = fs.listStatus(d).filterNot(s => ParquetSchemas.notData(s.getPath.getName)).partition(_.isDirectory)
    def files(d: Path): Iterator[FileStatus] = {
      val (dirs, here) = list(d)
      here.iterator ++ dirs.iterator.flatMap(s => files(s.getPath))
    }
    try {
      val (dirs, here) = list(dir)
      (here.iterator ++ dirs.iterator.flatMap(s => files(s.getPath))).nextOption().map(_ -> dirs.nonEmpty)
    } catch { case _: FileNotFoundException => None }
  }

  /** The schema an append must match (None: no table yet), from one walk.
    * An unpartitioned table's is its first file's footer as a read returns
    * it; a partitioned table's adds the partition columns Spark's
    * discovery infers, so it comes from the read. */
  private[graft] def appendSchema(spark: SparkSession, name: String): Option[StructType] =
    firstDataFile(spark, new Path(path(name))).map {
      case (file, false) => ParquetSchemas.asRead(spark, file)
      case (file, true) => read(spark, name, Some(file)).schema
    }

  override def appendTable(df: DataFrame, name: String): Unit = {
    requireAppendable(df.sparkSession, name, df.schema)
    writer(df).mode("append").parquet(path(name))
  }

  /** Spark's parquet writer run on the driver
    * ([[org.apache.spark.sql.graftbridge.ParquetCommit]]), with the
    * Hadoop options of every other write: the file is written under a
    * hidden name and committed by one rename, so a reader sees all of its
    * rows or none, and a commit cut short leaves only a hidden file that
    * no reader lists. */
  override def appendRows[T](spark: SparkSession, rows: Seq[T], name: String)(implicit encoder: Encoder[T]): Unit = {
    val rowEncoder = encoderFor(encoder)
    requireAppendable(spark, name, rowEncoder.schema)
    if (rows.nonEmpty) ParquetCommit.commit(spark, ForkFreeLocalFileSystem.writeOptions(spark, warehouse),
      new Path(path(name)), rowEncoder.schema, rows.iterator.map(rowEncoder.createSerializer()))
  }

  /** Iceberg rejects appends whose schema does not match the table
    * (evolution is an explicit DDL step); plain parquet would silently
    * accept them and leave the directory with MIXED schemas whose read
    * schema depends on which file gets sampled. Both appends enforce the
    * Iceberg contract here so the production swap changes no behavior
    * (TableIOSpec pins this): columns resolve BY NAME (order-insensitive)
    * and nullability holds one way: a nullable column into a required one
    * is rejected, required-into-nullable is fine. */
  private def requireAppendable(spark: SparkSession, name: String, in: StructType): Unit =
    appendSchema(spark, name).foreach { existing =>
      val e = existing.fields.map(f => f.name -> f).toMap
      val i = in.fields.map(f => f.name -> f).toMap
      def fail(why: String) = throw new IllegalArgumentException(
        s"appendTable($name): $why — table has ${existing.simpleString}; " +
          s"append has ${in.simpleString}. Evolve the table explicitly instead.")
      if (e.keySet != i.keySet) fail("column-set mismatch")
      for ((n, ef) <- e) {
        val inf = i(n)
        if (!appendable(ef.dataType, inf.dataType)) fail(s"type mismatch on '$n'")
        if (!ef.nullable && inf.nullable) fail(s"nullable append into required column '$n'")
      }
    }

  /** Whether values of type `in` may be appended into a column of type
    * `table`: the same type, with the column rule at every nesting level
    * (a required struct field, array element or map value may go into a
    * nullable one, never the reverse). Parquet stores nested fields
    * nullable, so a frame with a required nested field, such as the
    * extracted `spans`, must still append onto its own earlier output. */
  private def appendable(table: DataType, in: DataType): Boolean = (table, in) match {
    case (t: StructType, i: StructType) =>
      t.length == i.length && t.fields.zip(i.fields).forall { case (tf, f) =>
        tf.name == f.name && appendable(tf.dataType, f.dataType) && (tf.nullable || !f.nullable)
      }
    case (t: ArrayType, i: ArrayType) =>
      appendable(t.elementType, i.elementType) && (t.containsNull || !i.containsNull)
    case (t: MapType, i: MapType) =>
      appendable(t.keyType, i.keyType) && appendable(t.valueType, i.valueType) &&
        (t.valueContainsNull || !i.valueContainsNull)
    case _ => table == in
  }

  override def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit =
    writer(df)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(name))

  /** A table exists once it holds a data file: a directory with only
    * hidden or in-flight files, as a first write cut short leaves it, is
    * no table yet. Asks the path's own Hadoop FileSystem, so a URI
    * warehouse (`file:`, `hdfs:`, `s3a:`) resolves like a plain local
    * directory. */
  override def tableExists(spark: SparkSession, name: String): Boolean =
    firstDataFile(spark, new Path(path(name))).isDefined
}

/** Bucketed-table layout for the recurring-join workloads (SURVEY §2's
  * snapshot delta, golden joins, resume anti-joins): writing both sides
  * bucketed (and sorted) BY THE JOIN KEY makes every later join
  * co-located — the scan itself satisfies the join's distribution
  * requirement, so the plan has ZERO shuffle exchanges (asserted in
  * PlanSpec). At 100 TB this converts the monthly snapshot-delta from
  * two full-corpus shuffles into a pure streaming merge; the write-side
  * cost (one clustering shuffle at ingest) is paid once and amortized
  * over every downstream join. Tables are EXTERNAL (explicit `path`), so
  * the catalog entry is metadata only — the same parquet is readable
  * without the catalog, minus the bucketing guarantee. */
object BucketedTableIO {
  /** Write `df` as an external bucketed table, replacing any previous
    * catalog entry. `numBuckets` must match across tables that will join
    * (Spark only elides the exchange on equal bucket counts). */
  def writeBucketed(
      df: DataFrame, name: String, dir: String,
      bucketCol: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val local = ForkFreeLocalFileSystem.writeOptions(spark, dir)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.options(local).mode("overwrite")
      .format("parquet")
      .option("path", s"$dir/$name")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(name)
    // saveAsTable keeps writer options as the table's storage properties;
    // the filesystem binding is for this write only, not for later reads
    if (local.nonEmpty) {
      val catalog = spark.sessionState.catalog
      val table = catalog.getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(name))
      catalog.alterTable(table.copy(storage = table.storage.copy(properties = table.storage.properties -- local.keys)))
    }
  }
}
