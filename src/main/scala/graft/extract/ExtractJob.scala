package graft.extract

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.model.{ManifestRow, Page}

/** The extraction pipeline (north_rule): scan → resume-skip (left-anti on
  * the processed-partition manifest) → the `graft_extract` Catalyst
  * expression on the scan splits → one part-aligned, salted rebalance exchange → results write →
  * per-partition lineage + manifest append.
  *
  * Scale design notes (100 TB / 10^12 rows):
  *  - `part_id = pmod(xxhash64(url), P)` is a STABLE unit of work derived
  *    from data, not from task placement, so resume is valid across cluster
  *    sizes and reruns.
  *  - Extraction runs before any shuffle, so raw payloads never cross the
  *    wire: the one exchange carries markdown, not html.
  *  - That exchange is a REBALANCE keyed on `(part_id, salt_k)` with
  *    `salt_k = pmod(xxhash64(url, warc_ts), S)`, starting from P*S
  *    buckets. Every `(part_id, salt_k)` key lands in one write task, so a
  *    part is written as at most S files, and the salt spreads a hot part
  *    (Zipf host skew) over S tasks. Under AQE the rebalance coalesces
  *    small buckets and splits skewed ones; with AQE off it is a plain
  *    P*S hash exchange.
  *  - The written results are read back once, by the lineage aggregate
  *    (partial+final hash). The driver collects only ≤ P-row sets: the
  *    done/todo part ids and the lineage rows, which it writes and sums
  *    into the run summary.
  *  - Results are written partitioned by part_id (dynamic partition
  *    overwrite), so a rerun of an unfinished partition is idempotent.
  */
object ExtractJob {

  val ResultsTable = "results"
  val LineageTable = "lineage"
  val ManifestTable = "manifest"

  /** Extraction as a DataFrame stage: url + html binary → extracted struct.
    * Prefers the native `graft_extract` Catalyst expression (no ScalaUDF
    * converter round-trip per row — registered by graft.GraftExtensions);
    * sessions built without the extension get the byte-identical Scala UDF. */
  def extractedDf(pages: DataFrame): DataFrame = {
    if (pages.sparkSession.catalog.functionExists("graft_extract"))
      pages.withColumn("extracted", call_function("graft_extract", col("url"), col("html")))
    else {
      val extractUdf = udf((url: String, payload: Array[Byte]) => Extractor.extract(url, payload))
      pages.withColumn("extracted", extractUdf(col("url"), col("html")))
    }
  }

  /** The results rows of `todo` (pages with `part_id`), extracted on the
    * scan splits and then exchanged on `(part_id, salt_k)` from
    * `partitions * salt` initial buckets, ready for the partitioned write.
    * Spark drops the REBALANCE hint when AQE is off, so that case asks for
    * the same hash exchange as a plain repartition. */
  private[graft] def resultsDf(todo: DataFrame, runTs: Timestamp, partitions: Int, salt: Int): DataFrame = {
    val keyed = extractedDf(todo.withColumn("salt_k", pmod(xxhash64(col("url"), col("warc_ts")), lit(salt))))
      .select(
        col("url"), col("warc_ts"), col("lang"),
        col("extracted.status").as("status"),
        col("extracted.content_type").as("content_type"),
        col("extracted.markdown").as("markdown"),
        col("extracted.spans").as("spans"),
        col("extracted.pages").as("pages"),
        col("extracted.error").as("error"),
        lit(runTs).as("run_ts"),
        col("part_id"), col("salt_k"))
    val buckets = partitions * salt
    val keys = Seq(col("part_id"), col("salt_k"))
    val exchanged =
      if (todo.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean)
        keyed.hint("rebalance", buckets +: keys: _*)
      else keyed.repartition(buckets, keys: _*)
    exchanged.drop("salt_k")
  }

  final case class RunSummary(total: Long, ok: Long, err: Long, skippedParts: Long)

  /** Full run. `partitions` = P (work units), `salt` = S (hot-host spread). */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      io: TableIO,
      runTs: Timestamp,
      partitions: Int = 64,
      salt: Int = 4): RunSummary = {
    import spark.implicits._

    val withPart = pages.withColumn("part_id",
      pmod(xxhash64(col("url")), lit(partitions)).cast("int"))

    // resume: skip partitions already recorded 'done' in the manifest.
    // done/todo part-id sets are tiny (≤ `partitions` ints) — collecting
    // them costs nothing and identifies exactly which hive partitions this
    // invocation owns, independent of run_ts (reruns reuse the same ts).
    val doneSet: Set[Int] =
      if (io.tableExists(spark, ManifestTable))
        io.readTable(spark, ManifestTable)
          .filter($"status" === "done").select("part_id").distinct()
          .as[Int].collect().toSet
      else Set.empty
    val skipped = doneSet.size.toLong
    val todo =
      if (doneSet.isEmpty) withPart
      else withPart.filter(!$"part_id".isin(doneSet.toSeq: _*))
    val todoParts: Set[Int] =
      todo.select($"part_id").distinct().as[Int].collect().toSet

    // extract on the scan splits; the only exchange is the part-aligned
    // rebalance in front of the write
    val results = resultsDf(todo, runTs, partitions, salt)
    io.overwritePartitions(results, ResultsTable, "part_id")

    // Everything below reads the WRITTEN table back instead of re-evaluating
    // `results`: the extraction UDF is the whole cost of the job, and a
    // DataFrame reference would silently re-run it per action. Restricting
    // to this invocation's part_ids prunes the read to the hive partitions
    // just written, so a resumed rerun never rescans finished partitions.
    val writtenThisRun =
      if (todoParts.isEmpty)
        io.readTable(spark, ResultsTable).filter(lit(false))
      else
        io.readTable(spark, ResultsTable)
          .filter($"part_id".isin(todoParts.toSeq: _*))

    // lineage: commutative per-partition checksum — order-independent, so
    // identical at any parallelism (the determinism property the golden
    // byte-identity contract needs). Its ≤ P rows are collected once and
    // feed both the lineage write and the run summary.
    val lineage = writtenThisRun.groupBy($"part_id").agg(
      count(lit(1)).as("row_count"),
      count(when($"status" === "ok", 1)).as("ok_count"),
      count(when($"status" === "error", 1)).as("err_count"),
      // bit_xor: commutative + overflow-free under ANSI mode — the checksum
      // is identical at any parallelism / row order
      expr("bit_xor(xxhash64(url, markdown))").as("checksum"))
    val lineageRows = lineage.collect()
    io.overwritePartitions(
      spark.createDataFrame(java.util.Arrays.asList(lineageRows: _*), lineage.schema)
        .withColumn("part_lbl", $"part_id"), LineageTable, "part_lbl")

    // manifest: mark this invocation's partitions done (append-only); built
    // from the already-collected part-id set — no extra pass over the input
    if (todoParts.nonEmpty) {
      val doneParts = todoParts.toSeq.sorted
        .map(p => ManifestRow(p, runTs, "done")).toDS()
      io.appendTable(doneParts.toDF(), ManifestTable)
    }

    RunSummary(
      total = lineageRows.map(_.getAs[Long]("row_count")).sum,
      ok = lineageRows.map(_.getAs[Long]("ok_count")).sum,
      err = lineageRows.map(_.getAs[Long]("err_count")).sum,
      skippedParts = skipped)
  }
}
