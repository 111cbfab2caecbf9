package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.metrics.Metrics

/** The evaluation pipeline (SURVEY §3.3, process 2 —
  * /root/reference/mvp/evaluation/eval.py:342-385) as one Spark job:
  * results ⋈ goldens on url (the reference's positional zip made keyed,
  * §2.3 J1), per-row 8-metric evaluation with worst-case imputation for
  * failed rows (eval.py:290-301), then a success-filtered summary with
  * the reference's empty-set fallbacks (eval.py:305-319).
  *
  * Scale shape: the join broadcasts whichever side is small (goldens at
  * test scale) or sort-merges on url; the metric stage is a narrow map;
  * the summary is one partial+final aggregate. No driver loops.
  */
object EvalJob {

  /** Deterministic one-row-per-url pick over a results frame: a success
    * always beats a failed retry, then (status, markdown[, error]) break
    * remaining ties totally — `dropDuplicates("url")` kept an ARBITRARY
    * row, so a url carrying both a failed retry and a success scored
    * nondeterministically across runs. `results` is already semi-filtered
    * to the golden urls, and the pick's output is broadcast or collected,
    * so the driver holds it anyway: the pick runs over one partition, and
    * the one exchange ships all semi-filtered rows to it. A hash exchange
    * would write `spark.sql.shuffle.partitions` shuffle outputs per map
    * task for a few hundred rows. */
  private def pickPerUrl(results: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak = Seq("status", "markdown", "error")
      .filter(results.columns.contains)
      .map(c => col(c).asc_nulls_last)
    val w = Window.partitionBy(col("url"))
      .orderBy((when(col("status") === "ok", 0).otherwise(1).asc +: tiebreak): _*)
    results.repartition(1).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Per-document detail table.
    * `results` needs (url, status, markdown); `goldens` needs
    * (url, g_markdown). Output: url, success, 8 metric columns.
    *
    * Every golden row gets scored (eval.py:95 zips GT with predictions):
    * a url present in goldens but absent from results is imputed as a
    * failed row (eval.py:290-301), not silently dropped. Scale shape:
    * results is first semi-filtered to golden urls (broadcast semi join —
    * goldens is the small side at crawl scale), so the outer join that
    * preserves the golden side runs over two small frames. */
  def detail(results: DataFrame, goldens: DataFrame): DataFrame = {
    val evalUdf = udf { (success: Boolean, gt: String, pred: String) =>
      if (!success || pred == null) Metrics.failedRow
      else Metrics.evaluateOcr(gt, pred)
    }
    // semi-filter + per-url dedup bound `relevant` at ≤ |goldens| rows
    // even when results carries retry/duplicate urls (the reference zips
    // exactly one prediction per GT row — eval.py:95) — which makes it
    // always safe as the BUILD side of the left join below (the preserved
    // golden side can never be the build side: "build left for left outer
    // join" is unsupported and the hint would be dropped with a WARN)
    val relevant = pickPerUrl(results
      .join(broadcast(goldens.select(col("url"))), Seq("url"), "left_semi"))
    goldens
      .join(broadcast(relevant), Seq("url"), "left")
      .withColumn("success", coalesce(col("status") === "ok", lit(false)))
      .withColumn("m", evalUdf(col("success"), col("g_markdown"), col("markdown")))
      .select(col("url"), col("success"),
        round(col("m.cer"), 6).as("cer"),
        round(col("m.wer"), 6).as("wer"),
        round(col("m.wordAcc"), 6).as("word_acc"),
        round(col("m.tableAcc"), 6).as("table_acc"),
        round(col("m.sequenceSimilarity"), 6).as("seq_sim"),
        round(col("m.rowAccuracy"), 6).as("row_acc"),
        round(col("m.columnAccuracy"), 6).as("col_acc"),
        round(col("m.cellAccuracy"), 6).as("cell_acc"))
  }

  /** K2: the reference's two-sheet Excel report (eval.py:325-338 —
    * 'Summary' + 'Detailed_Results') via the dependency-free
    * [[graft.io.XlsxWriter]]. Report tables are bounded by the golden set,
    * so the driver-side collect mirrors the reference's pandas writer —
    * this is a report sink, not a distributed one. */
  def writeReport(detail: DataFrame, summary: DataFrame, path: String): Unit = {
    def sheetOf(name: String, df: DataFrame) = {
      val cols = df.columns.toSeq
      val rows = df.collect().toSeq.map(r => cols.indices.map(i => r.get(i)))
      graft.io.XlsxWriter.Sheet(name, cols, rows)
    }
    graft.io.XlsxWriter.write(path,
      Seq(sheetOf("Summary", summary), sheetOf("Detailed_Results", detail)))
  }

  /** K1+K2, prediction-data dump (ground_truth_prediciton.py:116-148):
    * the 'Overview' + 'Markdown_Data' workbook and its JSON mirror.
    * `results` needs (url, status, markdown[, error]); `goldens`
    * (url, g_markdown). Golden-preserving like [[detail]]: a url with no
    * prediction appears with OCR Success=false / 'FAILED' markdown. */
  def writePredictionData(
      results: DataFrame, goldens: DataFrame,
      xlsxPath: String, jsonPath: String): Unit = {
    val r0 = if (results.columns.contains("error")) results
             else results.withColumn("error", lit(null: String))
    val relevant = pickPerUrl( // bound the broadcast build side (see detail())
      r0.join(broadcast(goldens.select(col("url"))), Seq("url"), "left_semi"))
    val rows = goldens.join(broadcast(relevant), Seq("url"), "left")
      .select(col("url"), coalesce(col("status") === "ok", lit(false)).as("ok"),
        col("error"), col("g_markdown"), col("markdown"))
      .orderBy(col("url"))
      .collect()
    def pred(r: org.apache.spark.sql.Row): String =
      if (!r.getBoolean(1) || r.isNullAt(4)) "FAILED" else r.getString(4)
    graft.io.XlsxWriter.write(xlsxPath, Seq(
      graft.io.XlsxWriter.Sheet("Overview",
        Seq("Sample ID", "Image File", "OCR Success", "Error"),
        rows.toSeq.map(r => Seq(r.getString(0), r.getString(0), r.getBoolean(1),
          if (r.isNullAt(2)) "" else r.getString(2)))),
      graft.io.XlsxWriter.Sheet("Markdown_Data",
        Seq("Sample ID", "Ground Truth Markdown", "Markdown Prediction"),
        rows.toSeq.map(r => Seq(r.getString(0), r.getString(3), pred(r))))))
    // JsonUtil.quote maps null → the JSON literal null (a golden row may
    // legitimately carry a null g_markdown; evaluateOcr tolerates it too)
    val js = graft.io.JsonUtil.quote _
    val json = rows.map { r =>
      s"""{"sample_id": ${js(r.getString(0))}, "ocr_success": ${r.getBoolean(1)},""" +
        s""" "error": ${js(if (r.isNullAt(2)) null else r.getString(2))},""" +
        s""" "ground_truth_markdown": ${js(if (r.isNullAt(3)) null else r.getString(3))},""" +
        s""" "markdown_prediction": ${js(pred(r))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(jsonPath), json)
  }

  /** Corpus summary (eval.py:305-319): counts + success rate over ALL
    * rows, metric means over successful rows only, with the reference's
    * fallbacks when no row succeeded (1.0 for CER/WER, 0.0 for the
    * accuracy/similarity metrics). */
  def summary(detail: DataFrame): DataFrame = {
    // Exact-sum-then-single-division means: detail metrics are rounded to
    // 6 decimals, so the decimal(28,6) cast is value-preserving, the sum
    // is exact (order-free — a plain avg(double) depends on partition
    // visit order), and the one double division is deterministic across
    // engines/partitionings. This is what lets q40's DuckDB oracle replay
    // the summary bit-for-bit.
    def meanOk(c: String, fallback: Double) =
      round(coalesce(
        sum(when(col("success"), col(c)).cast("decimal(28,6)")).cast("double")
          / count(when(col("success"), 1)),
        lit(fallback)), 6).as(s"mean_$c")
    detail.agg(
      count(lit(1)).as("total"),
      count(when(col("success"), 1)).as("successes"),
      round(coalesce(count(when(col("success"), 1)).cast("double")
        / when(count(lit(1)) > 0, count(lit(1))), lit(0d)), 6).as("success_rate"),
      meanOk("cer", 1.0), meanOk("wer", 1.0),
      meanOk("word_acc", 0.0), meanOk("table_acc", 0.0),
      meanOk("seq_sim", 0.0), meanOk("row_acc", 0.0),
      meanOk("col_acc", 0.0), meanOk("cell_acc", 0.0))
  }
}
