package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.jobs.EvalJob

/** §3.3 evaluation pipeline: keyed golden join, metric columns,
  * failed-row imputation, success-filtered summary with fallbacks. */
class EvalJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def results = Seq(
    ("u1", "ok", "identical text"),
    ("u2", "ok", "sume text with drift"),
    ("u3", "error", null.asInstanceOf[String])
  ).toDF("url", "status", "markdown")

  private def goldens = Seq(
    ("u1", "identical text"),
    ("u2", "some text with drift"),
    ("u3", "never produced")
  ).toDF("url", "g_markdown")

  test("detail: perfect row scores 0 CER / 1.0 accuracies; failed row imputed worst-case") {
    val det = EvalJob.detail(results, goldens).collect()
      .map(r => r.getString(0) -> r).toMap
    val perfect = det("u1")
    assert(perfect.getDouble(2) == 0.0 && perfect.getDouble(3) == 0.0) // cer, wer
    assert(perfect.getDouble(4) == 1.0) // word_acc
    assert(perfect.getDouble(6) == 1.0) // seq_sim
    val drifted = det("u2")
    assert(drifted.getDouble(2) > 0.0 && drifted.getDouble(2) < 0.5)
    val failed = det("u3")
    assert(!failed.getBoolean(1))
    assert(failed.getDouble(2) == 1.0 && failed.getDouble(3) == 1.0) // imputed cer/wer
    assert((4 to 9).forall(i => failed.getDouble(i) == 0.0)) // imputed accuracies
  }

  test("detail picks deterministically per url: a success always beats a failed retry") {
    // same url carries a failed retry AND a success — dropDuplicates kept
    // an arbitrary one; the row_number pick must keep the success
    val withRetry = Seq(
      ("u1", "error", null.asInstanceOf[String]),
      ("u1", "ok", "identical text"),
      ("u2", "ok", "sume text with drift"),
      ("u3", "error", null.asInstanceOf[String])
    ).toDF("url", "status", "markdown")
    (1 to 3).foreach { _ =>
      val det = EvalJob.detail(withRetry.repartition(7), goldens).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(det("u1").getBoolean(1), "success row must win over the failed retry")
      assert(det("u1").getDouble(2) == 0.0) // perfect CER from the ok row
    }
  }

  test("summary: means over successes only; success_rate over all") {
    val s = EvalJob.summary(EvalJob.detail(results, goldens)).collect().head
    assert(s.getLong(0) == 3L && s.getLong(1) == 2L)
    assert(math.abs(s.getDouble(2) - 2.0 / 3.0) < 1e-4)
    // mean_cer over successes excludes the imputed 1.0 of the failed row
    assert(s.getDouble(3) < 0.5)
  }

  test("summary fallbacks: all-failed corpus gives CER/WER 1.0, accuracies 0.0") {
    val allFailed = Seq(("u1", "error", null.asInstanceOf[String])).toDF("url", "status", "markdown")
    val s = EvalJob.summary(EvalJob.detail(allFailed, goldens)).collect().head
    assert(s.getDouble(3) == 1.0 && s.getDouble(4) == 1.0) // mean_cer, mean_wer
    assert(s.getDouble(5) == 0.0) // mean_word_acc
  }

  test("golden url missing from results is imputed as a failed row, not dropped") {
    // u3 never produced a result; u4 is a result with no golden (ignored)
    val partial = Seq(
      ("u1", "ok", "identical text"),
      ("u2", "ok", "sume text with drift"),
      ("u4", "ok", "stray result without golden")
    ).toDF("url", "status", "markdown")
    val det = EvalJob.detail(partial, goldens)
    val rows = det.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("u1", "u2", "u3")) // every golden scored, u4 dropped
    val missing = rows("u3")
    assert(!missing.getBoolean(1)) // success = false
    assert(missing.getDouble(2) == 1.0 && missing.getDouble(3) == 1.0) // imputed cer/wer
    assert((4 to 9).forall(i => missing.getDouble(i) == 0.0))
    // summary counts the imputed row in total but not in the means
    val s = EvalJob.summary(det).collect().head
    assert(s.getLong(0) == 3L && s.getLong(1) == 2L)
  }

  test("K2 xlsx report: valid two-sheet OOXML package with header + values") {
    val dir = SparkTestBase.tempDir("xlsx")
    val path = s"$dir/markdown_evaluation_results.xlsx"
    val det = EvalJob.detail(results, goldens)
    EvalJob.writeReport(det, EvalJob.summary(det), path)

    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result().toSet
      }
      assert(Set("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
        "xl/_rels/workbook.xml.rels", "xl/styles.xml",
        "xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml").subsetOf(names), names)
      def read(n: String): String = new String(
        zf.getInputStream(zf.getEntry(n)).readAllBytes(), "UTF-8")
      val wb = read("xl/workbook.xml")
      assert(wb.contains("name=\"Summary\"") && wb.contains("name=\"Detailed_Results\""))
      val s1 = read("xl/worksheets/sheet1.xml")
      assert(s1.contains("<t xml:space=\"preserve\">success_rate</t>")) // summary header
      val s2 = read("xl/worksheets/sheet2.xml")
      assert(s2.contains("<t xml:space=\"preserve\">u1</t>")) // detail row key
      assert(s2.contains("<t xml:space=\"preserve\">cer</t>"))
      // XML well-formedness of every sheet (the JDK parser rejects bad escaping)
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      Seq("xl/workbook.xml", "xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml").foreach { n =>
        f.newDocumentBuilder().parse(
          new java.io.ByteArrayInputStream(read(n).getBytes("UTF-8")))
      }
    } finally zf.close()
    // special chars must escape, not corrupt the package
    graft.io.XlsxWriter.write(s"$dir/esc.xlsx", Seq(graft.io.XlsxWriter.Sheet(
      "S", Seq("c"), Seq(Seq("a<b&c>\"d\"", 1.5, null, true)))))
    val zf2 = new java.util.zip.ZipFile(s"$dir/esc.xlsx")
    try {
      val x = new String(zf2.getInputStream(
        zf2.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      assert(x.contains("a&lt;b&amp;c&gt;&quot;d&quot;"))
      javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(x.getBytes("UTF-8")))
    } finally zf2.close()
    assert(graft.io.XlsxWriter.colName(0) == "A" && graft.io.XlsxWriter.colName(25) == "Z"
      && graft.io.XlsxWriter.colName(26) == "AA" && graft.io.XlsxWriter.colName(701) == "ZZ"
      && graft.io.XlsxWriter.colName(702) == "AAA")
    // non-finite doubles/floats: <v>NaN</v> is invalid OOXML (Excel
    // refuses the workbook) — they must surface as inline strings
    graft.io.XlsxWriter.write(s"$dir/nan.xlsx", Seq(graft.io.XlsxWriter.Sheet(
      "S", Seq("c"), Seq(Seq(Double.NaN, 1.5, Double.PositiveInfinity, Float.NaN)))))
    val zf3 = new java.util.zip.ZipFile(s"$dir/nan.xlsx")
    try {
      val x = new String(zf3.getInputStream(
        zf3.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      assert(!x.contains("<v>NaN</v>") && !x.contains("<v>Infinity</v>"), x)
      assert(x.contains("<v>1.5</v>"), x)
      assert(x.contains("""t="inlineStr"><is><t>NaN</t>"""), x)
    } finally zf3.close()
  }

  test("prediction-data dump: Overview/Markdown_Data workbook + JSON mirror, FAILED imputed") {
    val dir = SparkTestBase.tempDir("pred")
    val xlsx = s"$dir/markdown_evaluation_data.xlsx"
    val json = s"$dir/markdown_evaluation_data.json"
    // u3 has no prediction at all (dropped result)
    val partial = Seq(("u1", "ok", "identical text"), ("u2", "ok", "sume text with drift"))
      .toDF("url", "status", "markdown")
    EvalJob.writePredictionData(partial, goldens, xlsx, json)

    val zf = new java.util.zip.ZipFile(xlsx)
    try {
      def read(n: String): String = new String(
        zf.getInputStream(zf.getEntry(n)).readAllBytes(), "UTF-8")
      val wb = read("xl/workbook.xml")
      assert(wb.contains("name=\"Overview\"") && wb.contains("name=\"Markdown_Data\""))
      val mdSheet = read("xl/worksheets/sheet2.xml")
      assert(mdSheet.contains(">FAILED</t>"), mdSheet) // u3 imputed
      assert(mdSheet.contains(">never produced</t>")) // its golden still present
    } finally zf.close()

    // the JSON mirror parses and carries the same imputation
    val parsed = spark.read.option("multiLine", true).json(json)
    assert(parsed.count() == 3)
    val u3 = parsed.filter($"sample_id" === "u3").collect().head
    assert(u3.getAs[Boolean]("ocr_success") == false)
    assert(u3.getAs[String]("markdown_prediction") == "FAILED")
    assert(parsed.filter($"ocr_success" === true).count() == 2)
  }

  test("join is keyed on url, not positional (order shuffle changes nothing)") {
    val shuffled = results.orderBy(rand(7))
    val a = EvalJob.summary(EvalJob.detail(results, goldens)).collect().head.toSeq
    val b = EvalJob.summary(EvalJob.detail(shuffled, goldens)).collect().head.toSeq
    assert(a == b)
  }

  test("the per-url pick runs over one partition: one SinglePartition exchange below its window") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val det = EvalJob.detail(results.repartition(3), goldens)
      assert(det.collect().length == 3)
      val plan = det.queryExecution.executedPlan
      val windows = Plans.collect(plan) { case w: WindowExec => w }
      assert(windows.length == 1, s"aqe=$aqe\n$plan")
      val exchanges = Plans.collect(windows.head) { case e: ShuffleExchangeExec => e }
      assert(exchanges.map(_.outputPartitioning) == Seq(SinglePartition), s"aqe=$aqe\n$plan")
      // no partial group limit below the exchange: every semi-filtered row ships
      assert(Plans.collect(exchanges.head) { case g: WindowGroupLimitExec => g }.isEmpty, s"aqe=$aqe\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("detail plus summary over TableIO tables start a pinned number of Spark jobs") {
    val io = new graft.io.ParquetTableIO(SparkTestBase.tempDir("eval-jobs"))
    io.appendTable(results, "results")
    io.appendTable(goldens, "goldens")
    val jobs = SparkTestBase.jobsDuring {
      io.appendTable(EvalJob.detail(io.readTable(spark, "results"), io.readTable(spark, "goldens")), "eval_detail")
      EvalJob.summary(io.readTable(spark, "eval_detail")).collect()
    }
    // none of the three reads plans a schema-inference job
    assert(jobs.length == 6, jobs)
  }
}
