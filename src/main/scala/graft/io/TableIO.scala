package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage seam (SURVEY.md §7.1.9). Production binds this to Iceberg
  * (`spark.read.format("iceberg")`, append snapshots, a manifest table);
  * the sandbox has no Iceberg runtime jar, so the default implementation is
  * hive-partitioned parquet with the same layout and the same append/anti-join
  * resume contract. Swapping implementations changes no job code.
  */
trait TableIO {
  def readTable(spark: SparkSession, name: String): DataFrame
  def appendTable(df: DataFrame, name: String): Unit
  /** Overwrite only the hive partitions present in `df` (Iceberg: dynamic
    * partition overwrite). */
  def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit
  def tableExists(spark: SparkSession, name: String): Boolean
}

/** Parquet implementation rooted at a warehouse directory. */
final class ParquetTableIO(warehouse: String) extends TableIO {
  private def path(name: String) = s"$warehouse/$name"

  override def readTable(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(path(name))

  override def appendTable(df: DataFrame, name: String): Unit = {
    // Iceberg rejects appends whose schema does not match the table
    // (evolution is an explicit DDL step); plain parquet would silently
    // accept them and leave the directory with MIXED schemas whose read
    // schema depends on which file gets sampled. Enforce the Iceberg
    // contract here so the production swap changes no behavior
    // (TableIOSpec pins this).
    if (tableExists(df.sparkSession, name)) {
      // Iceberg resolves append columns BY NAME (order-insensitive) and
      // enforces nullability one-directionally: writing a nullable column
      // into a required one is rejected, required-into-nullable is fine.
      val existing = df.sparkSession.read.parquet(path(name)).schema
      val e = existing.fields.map(f => f.name -> f).toMap
      val i = df.schema.fields.map(f => f.name -> f).toMap
      def fail(why: String) = throw new IllegalArgumentException(
        s"appendTable($name): $why — table has ${existing.simpleString}; " +
          s"append has ${df.schema.simpleString}. Evolve the table explicitly instead.")
      if (e.keySet != i.keySet) fail("column-set mismatch")
      for ((n, ef) <- e) {
        val inf = i(n)
        if (ef.dataType != inf.dataType) fail(s"type mismatch on '$n'")
        if (!ef.nullable && inf.nullable) fail(s"nullable append into required column '$n'")
      }
    }
    df.write.mode("append").parquet(path(name))
  }

  override def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(name))

  /** Asks the path's own Hadoop FileSystem, so a URI warehouse (`file:`,
    * `hdfs:`, `s3a:`) resolves like a plain local directory. */
  override def tableExists(spark: SparkSession, name: String): Boolean = {
    val p = new Path(path(name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
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
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", s"$dir/$name")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(name)
  }
}
