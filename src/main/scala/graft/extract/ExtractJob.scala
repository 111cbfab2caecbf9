package graft.extract

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoder, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.model.{LineageRow, ManifestRow}

/** The extraction pipeline (north_rule): scan → resume-skip (parts the
  * manifest records done) → the `graft_extract` Catalyst expression on the
  * scan splits → one part-aligned, salted rebalance exchange → results
  * write, which tallies the per-partition lineage → lineage write +
  * manifest append.
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
  *  - The input is scanned once and the results are never read back: the
  *    write itself tallies the per-part lineage (an observed aggregate in
  *    its result stage, above the exchange). The driver receives only
  *    ≤ P-row sets: the done part ids and the lineage rows, which it
  *    writes, turns into the manifest's done rows and sums into the run
  *    summary.
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

  /** The lineage of the rows a write task passes, as a sparse part id →
    * lineage map: a task holds only the parts it writes, so the driver
    * merges at most P entries. `checksum` is the XOR of the rows'
    * `xxhash64(url, markdown)`: commutative and overflow-free, so identical
    * at any parallelism and row order. */
  private object LineageTally
      extends Aggregator[(Int, Boolean, Boolean, Long), Map[Int, LineageRow], Seq[LineageRow]] {
    private def add(m: Map[Int, LineageRow], r: LineageRow) =
      m.updated(r.part_id, m.get(r.part_id).fold(r)(t => LineageRow(r.part_id, t.row_count + r.row_count,
        t.ok_count + r.ok_count, t.err_count + r.err_count, t.checksum ^ r.checksum)))
    def zero: Map[Int, LineageRow] = Map.empty
    def reduce(b: Map[Int, LineageRow], in: (Int, Boolean, Boolean, Long)): Map[Int, LineageRow] =
      add(b, LineageRow(in._1, 1, if (in._2) 1 else 0, if (in._3) 1 else 0, in._4))
    def merge(a: Map[Int, LineageRow], b: Map[Int, LineageRow]): Map[Int, LineageRow] = b.values.foldLeft(a)(add)
    def finish(b: Map[Int, LineageRow]): Seq[LineageRow] = b.values.toSeq.sortBy(_.part_id)
    def bufferEncoder: Encoder[Map[Int, LineageRow]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[LineageRow]] = ExpressionEncoder()
  }

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

    // resume: skip partitions already recorded 'done' in the manifest
    // (a ≤ P-int set, collected once)
    val doneSet: Set[Int] =
      if (io.tableExists(spark, ManifestTable))
        io.readTable(spark, ManifestTable)
          .filter($"status" === "done").select("part_id").distinct()
          .as[Int].collect().toSet
      else Set.empty
    val todo =
      if (doneSet.isEmpty) withPart
      else withPart.filter(!$"part_id".isin(doneSet.toSeq: _*))

    // The lineage is tallied by the write itself, above the part-aligned
    // exchange, so in the write's result stage: Spark applies a result
    // task's metrics once even when the task is retried (below the
    // exchange, a map-stage retry would count its rows twice).
    val tally = Observation()
    io.overwritePartitions(
      resultsDf(todo, runTs, partitions, salt).observe(tally, udaf(LineageTally).apply(
        $"part_id", $"status" <=> "ok", $"status" <=> "error", xxhash64($"url", $"markdown")).as("lineage")),
      ResultsTable, "part_id")
    val lineage = tally.get("lineage").asInstanceOf[Seq[Row]]
      .map(r => LineageRow(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    io.overwritePartitions(lineage.toDS().withColumn("part_lbl", $"part_id"), LineageTable, "part_lbl")

    // manifest: mark this invocation's partitions done (append-only). The
    // extractor is total, so every todo row has a results row and the
    // lineage part ids are exactly the todo parts that have input.
    if (lineage.nonEmpty)
      io.appendTable(lineage.map(l => ManifestRow(l.part_id, runTs, "done")).toDS().toDF(), ManifestTable)

    RunSummary(lineage.map(_.row_count).sum, lineage.map(_.ok_count).sum,
      lineage.map(_.err_count).sum, skippedParts = doneSet.size.toLong)
  }
}
