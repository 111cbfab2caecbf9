package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `entry` is the flagship extraction query; `queries`/`oracleSql` are the
  * DuckDB-checked operator inventory (SURVEY.md §2).
  */
object SparkEntry {

  /** Flagship: main-content extraction over the deterministic synth `pages`
    * corpus (north_star pipeline end-to-end; driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.synth.Synth.pagesDs(spark, 500L, seed = 42L).toDF()
    graft.extract.ExtractJob.extractedDf(pages)
      .select(col("url"), col("lang"),
        col("extracted.status").as("status"),
        col("extracted.content_type").as("content_type"),
        col("extracted.pages").as("pages"),
        length(col("extracted.markdown")).as("md_len"))
      .filter(col("status") === "ok")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Every query has one: a query is declared with
    * its oracle. */
  def oracleSql: Map[String, String] = Queries.oracles
}
