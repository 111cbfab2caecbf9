package graft.extract

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Encoder, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExpressionColumns
import graft.io.TableIO
import graft.model.ManifestRow
import graft.plans.ExtractExpression

/** The extraction pipeline (north_rule): scan → resume-skip (parts the
  * manifest records done) → the `graft_extract` Catalyst expression on the
  * scan splits → one part-aligned, salted rebalance exchange → results
  * write, which tallies → one manifest append.
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
  *    write itself tallies each part's manifest row, its lineage and job
  *    counters (an observed aggregate in its result stage, above the
  *    exchange). The driver receives only ≤ P-row sets: the done part ids
  *    and the tallied rows, which it appends to the manifest as one file
  *    (`TableIO.appendRows`: written on the driver, no Spark job), the
  *    run's single commit, and sums into the run summary.
  *  - Results are written partitioned by part_id (dynamic partition
  *    overwrite), so a rerun of an unfinished partition is idempotent.
  */
object ExtractJob {

  val ResultsTable = "results"
  /** The retired per-part lineage table, now the manifest's done rows.
    * `run` no longer writes it; the name stays for callers that label it. */
  val LineageTable = "lineage"
  val ManifestTable = "manifest"

  /** Extraction as a DataFrame stage: url + html binary → extracted struct,
    * built from the native `graft_extract` Catalyst expression on every
    * session (no ScalaUDF converter round-trip per row, inside whole-stage
    * codegen). */
  def extractedDf(pages: DataFrame): DataFrame =
    pages.withColumn("extracted", ExpressionColumns.column(ExtractExpression(
      ExpressionColumns.expression(col("url")), ExpressionColumns.expression(col("html")))))

  /** The per-document results columns of an [[extractedDf]] frame: the
    * page keys, then every field of the extracted struct (text and span
    * offsets included). The batch job and the streaming surface write
    * these same columns. */
  private[graft] val resultColumns: Seq[Column] =
    Seq(col("url"), col("warc_ts"), col("lang"), col("extracted.*"))

  /** The results rows of `todo` (pages with `part_id`), extracted on the
    * scan splits and then exchanged on `(part_id, salt_k)` from
    * `partitions * salt` initial buckets, ready for the partitioned write.
    * Spark drops the REBALANCE hint when AQE is off, so that case asks for
    * the same hash exchange as a plain repartition. */
  private[graft] def resultsDf(todo: DataFrame, runTs: Timestamp, partitions: Int, salt: Int): DataFrame = {
    val keyed = extractedDf(todo.withColumn("salt_k", pmod(xxhash64(col("url"), col("warc_ts")), lit(salt))))
      .select(resultColumns ++ Seq(lit(runTs).as("run_ts"), col("part_id"), col("salt_k")): _*)
    val buckets = partitions * salt
    val keys = Seq(col("part_id"), col("salt_k"))
    val exchanged =
      if (todo.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean)
        keyed.hint("rebalance", buckets +: keys: _*)
      else keyed.repartition(buckets, keys: _*)
    exchanged.drop("salt_k")
  }

  final case class RunSummary(total: Long, ok: Long, err: Long, skippedParts: Long)

  /** The manifest rows of the rows a write task passes, as a sparse part
    * id → row map: a task holds only the parts it writes, so the driver
    * merges at most P entries. Every field is a sum, a per-key count or
    * an XOR: commutative and overflow-free, so identical at any
    * parallelism and row order. Input: part id, status, content type,
    * error class, `xxhash64(url, markdown)`, markdown bytes. */
  private final case class LineageTally(runTs: Timestamp, partitions: Int) extends Aggregator[
      (Int, String, String, String, Long, Long), Map[Int, ManifestRow], Seq[ManifestRow]] {
    private def plus(a: Map[String, Long], b: Map[String, Long]) =
      b.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
    private def add(m: Map[Int, ManifestRow], r: ManifestRow) =
      m.updated(r.part_id, m.get(r.part_id).fold(r)(t => t.copy(row_count = t.row_count + r.row_count,
        ok_count = t.ok_count + r.ok_count, err_count = t.err_count + r.err_count, checksum = t.checksum ^ r.checksum,
        by_content_type = plus(t.by_content_type, r.by_content_type),
        by_error_class = plus(t.by_error_class, r.by_error_class), markdown_bytes = t.markdown_bytes + r.markdown_bytes)))
    def zero: Map[Int, ManifestRow] = Map.empty
    def reduce(b: Map[Int, ManifestRow], in: (Int, String, String, String, Long, Long)): Map[Int, ManifestRow] =
      add(b, ManifestRow(in._1, partitions, runTs, "done", 1, if (in._2 == "ok") 1 else 0,
        if (in._2 == "error") 1 else 0, in._5, Option(in._3).map(_ -> 1L).toMap, Option(in._4).map(_ -> 1L).toMap, in._6))
    def merge(a: Map[Int, ManifestRow], b: Map[Int, ManifestRow]): Map[Int, ManifestRow] = b.values.foldLeft(a)(add)
    def finish(b: Map[Int, ManifestRow]): Seq[ManifestRow] = b.values.toSeq.sortBy(_.part_id)
    def bufferEncoder: Encoder[Map[Int, ManifestRow]] = tallyBuffer
    def outputEncoder: Encoder[Seq[ManifestRow]] = tallyOutput
  }

  /** The tally's and the manifest's encoders, derived once per JVM: each
    * `ExpressionEncoder()` reflects over its type, and the analyzer asks
    * the aggregate for its encoders again on every copy of it. */
  private val tallyInput: Encoder[(Int, String, String, String, Long, Long)] = ExpressionEncoder()
  private val tallyBuffer: Encoder[Map[Int, ManifestRow]] = ExpressionEncoder()
  private val tallyOutput: Encoder[Seq[ManifestRow]] = ExpressionEncoder()
  private val manifestRows: Encoder[ManifestRow] = ExpressionEncoder()

  /** Full run. `partitions` = P (work units), `salt` = S (hot-host spread).
    *
    * MIGRATION: a manifest written before its rows carried the lineage
    * (columns `part_id, run_ts, status` only) is refused before any
    * results are written. Rewrite it with the [[ManifestRow]] columns, or
    * delete `manifest/` and the retired `lineage/` and rerun. A manifest
    * written before its rows carried `partitions` (the other ten columns)
    * is refused the same way: add `partitions` with the P the warehouse
    * was run with.
    *
    * A manifest written under another `partitions` is refused before any
    * results are written: its part ids name other sets of urls, so a
    * resume would extract its done urls again. */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      io: TableIO,
      runTs: Timestamp,
      partitions: Int = 64,
      salt: Int = 4): RunSummary = {
    import spark.implicits._

    // resume: skip partitions already recorded 'done' in the manifest
    // (≤ P rows per run, collected once; the set dedups them, so the read
    // plans no aggregate and no exchange)
    val doneSet: Set[Int] =
      if (!io.tableExists(spark, ManifestTable)) Set.empty
      else {
        val manifest = io.readTable(spark, ManifestTable)
        require(manifest.columns.toSet == manifestRows.schema.fieldNames.toSet, "manifest columns " +
          s"(${manifest.columns.mkString(", ")}) are not ManifestRow's: migrate it, see ExtractJob.run's MIGRATION")
        val rows = manifest.filter($"status" === "done").select("part_id", "partitions").as[(Int, Int)].collect()
        val other = rows.map(_._2).filter(_ != partitions).distinct.sorted
        require(other.isEmpty, s"manifest was written with partitions = ${other.mkString(", ")}; this run has " +
          s"partitions = $partitions: rerun with the manifest's partitions, or start a new warehouse")
        rows.map(_._1).toSet
      }
    // every part is done: plan nothing, so the rerun scans and writes nothing
    if ((0 until partitions).forall(doneSet)) return RunSummary(0, 0, 0, doneSet.size)
    val withPart = pages.withColumn("part_id", pmod(xxhash64(col("url")), lit(partitions)).cast("int"))
    val todo = if (doneSet.isEmpty) withPart else withPart.filter(!$"part_id".isin(doneSet.toSeq: _*))

    // The manifest rows are tallied by the write itself, above the
    // part-aligned exchange, so in the write's result stage: Spark applies
    // a result task's metrics once even when the task is retried (below
    // the exchange, a map-stage retry would count its rows twice).
    val tally = Observation()
    val tallied = udaf(LineageTally(runTs, partitions), tallyInput).apply($"part_id", $"status", $"content_type",
      substring_index($"error", ":", 1), xxhash64($"url", $"markdown"),
      coalesce(octet_length($"markdown"), lit(0)).cast("long")).as("done")
    io.overwritePartitions(resultsDf(todo, runTs, partitions, salt).observe(tally, tallied), ResultsTable, "part_id")
    val done = tally.get("done").asInstanceOf[Seq[Row]].map(r => ManifestRow(r.getInt(0), r.getInt(1),
      r.getTimestamp(2), r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
      r.getMap[String, Long](8).toMap, r.getMap[String, Long](9).toMap, r.getLong(10)))

    // the single commit: mark this invocation's parts done, one file
    // written from the driver (no rows, no commit). The extractor is
    // total, so every todo row has a results row and the tallied part ids
    // are exactly the todo parts that have input.
    io.appendRows(spark, done, ManifestTable)(manifestRows)
    RunSummary(done.map(_.row_count).sum, done.map(_.ok_count).sum, done.map(_.err_count).sum, doneSet.size.toLong)
  }
}
