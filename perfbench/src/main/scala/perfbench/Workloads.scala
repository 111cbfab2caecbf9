package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.extract.{ExtractJob, Extractor, HtmlExtractor}
import graft.html.{Tokenizer, TreeBuilder}
import graft.io.ParquetTableIO
import graft.jobs.EvalJob
import graft.metrics.Metrics
import graft.model.{Extracted, Page}
import graft.pdf.PdfParser
import graft.synth.Synth
import graft.textnorm.TextNorm

/** Shared state of one benchmark process. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path) {
  def dir(name: String): Path = work.resolve(name)
}

/** What an operation's output check found. `failure` set means the
  * operation counts as failed. */
final case class Checked(failure: Option[String], outFiles: Long, outBytes: Long, mix: Map[String, Long])

/** Collects the mismatches of one output check. */
final class Expect {
  private val fails = Vector.newBuilder[String]
  def apply(what: String, got: Any, want: Any): Unit =
    if (got != want) fails += s"$what: got $got, want $want"
  def near(what: String, got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) fails += s"$what: got $got, want $want"
  def failure: Option[String] = { val f = fails.result(); if (f.isEmpty) None else Some(f.mkString("; ")) }
}

/** A single-thread kernel timing: mean microseconds per call (median of
  * passes) and every per-call sample. */
final case class Kernel(usPerCall: Double, samples: Seq[Double])

/** One closed-loop operation: `prepare` and `check` are untimed, `run` is
  * the timed call into the program and returns the documents it processed.
  * `section` wraps a named part of `run` in a span when the run is traced. */
trait Op {
  def prepare(): Unit
  def run(section: Section): Long
  def check(): Checked
}

trait Section { def apply[A](name: String)(f: => A): A }

trait Workload {
  /** The repeatable part of set-up: generated inputs and their reference. */
  def prepare(): Unit
  def newOp(k: Int): Op
  /** A second kind of operation run once in the traced run, after the
    * last operation (crawl_mixed: the job's resume path). */
  def rerunOp: Option[Op] = None
  /** Which table the operation's main write goes to (for write-stage skew). */
  def mainTable: String
  /** Isolated single-layer measurements for the traced run: values, and
    * the kernels among them with their samples. */
  def micro(tracer: Tracer): (Map[String, Double], Map[String, Kernel])
}

object Workloads {
  val Names: Seq[String] = Seq("crawl_mixed", "eval_goldens")

  /** Corpus sizes. A job operation at the job's default 64 partitions x 4
    * salt costs about 5 s of per-task overhead (256 write tasks) plus one
    * result file per document (about 3 ms each on a 4-core host), so these
    * keep an operation to a few seconds and a run to a few operations. */
  val CrawlDocs = 500
  val EvalDocs = 800
  val EvalMissingPerMille = 30

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "eval_goldens" => new EvalWorkload(ctx)
    case "crawl_mixed"  => new CrawlWorkload(ctx)
    case n => throw new IllegalArgumentException(s"unknown workload '$n' (known: ${Names.mkString(", ")})")
  }

  val OpTs: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }

  /** (file count, bytes) of the parquet data files under a table directory. */
  def parquetFiles(table: Path): (Long, Long) = if (!Files.exists(table)) (0L, 0L) else {
    val s = Files.walk(table)
    try {
      val fs = s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet")).toVector
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** `f` timed over every element of `xs`, `passes` times. */
  def perCall[T](tracer: Tracer, parent: Int, name: String, xs: Seq[T], passes: Int = 3)(f: T => Any): Kernel =
    if (xs.isEmpty) Kernel(0.0, Nil) else {
      val samples = Vector.newBuilder[Double]
      val means = (1 to passes).map { _ =>
        val (sum, _) = tracer.span(name, -1, parent) {
          var total = 0L
          xs.foreach { x =>
            val t0 = System.nanoTime(); f(x); val d = System.nanoTime() - t0
            total += d; samples += d / 1e3
          }
          total
        }
        sum / 1e3 / xs.length
      }
      Kernel(Stats.median(means), samples.result())
    }

  def timeS(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
}

import Workloads._

/** One generated page and what `Extractor.extract` returns for it outside
  * Spark. */
final case class RefDoc(page: Page, ex: Extracted)

/** crawl_mixed: `ExtractJob.run` over the default synth mix. */
final class CrawlWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val inIo = new ParquetTableIO(ctx.dir("input").toString)
  private var ref: Vector[RefDoc] = Vector.empty

  def mainTable: String = ExtractJob.ResultsTable

  def prepare(): Unit = {
    deleteTree(ctx.dir("input").resolve("pages"))
    inIo.appendTable(Synth.pagesDs(spark, CrawlDocs, ctx.seed).toDF(), "pages")
    ref = (0L until CrawlDocs).map { i =>
      val p = Synth.page(ctx.seed, i)
      RefDoc(p, Extractor.extract(p.url, p.html))
    }.toVector
  }

  private var lastDir: Path = _

  /** The result table of `io` against the reference: every document once,
    * with the reference's status and markdown. */
  private def checkResults(io: ParquetTableIO, expect: Expect) = {
    val rows = io.readTable(spark, ExtractJob.ResultsTable)
      .select("url", "status", "content_type", "markdown").collect()
    expect("result rows", rows.length.toLong, ref.length.toLong)
    expect("ok rows", rows.count(_.getString(1) == "ok"), ref.count(_.ex.status == "ok"))
    expect("error rows", rows.count(_.getString(1) == "error"), ref.count(_.ex.status == "error"))
    expect("checksum(url, markdown)",
      Checksum.of(rows.map(r => (r.getString(0), r.getString(3)))),
      Checksum.of(ref.map(r => (r.page.url, r.ex.markdown))))
    rows
  }

  def newOp(k: Int): Op = new Op {
    private val dir = ctx.dir(s"ops/$k")
    private val io = new ParquetTableIO(dir.toString)
    private var summary: ExtractJob.RunSummary = _

    def prepare(): Unit = {
      if (lastDir != null) deleteTree(lastDir)
      deleteTree(dir)
      Files.createDirectories(dir)
      lastDir = dir
    }

    def run(section: Section): Long = {
      summary = ExtractJob.run(spark, inIo.readTable(spark, "pages"), io, OpTs)
      summary.total
    }

    def check(): Checked = {
      val expect = new Expect
      val rows = checkResults(io, expect)
      expect("summary", summary, ExtractJob.RunSummary(rows.length, rows.count(_.getString(1) == "ok"),
        rows.count(_.getString(1) == "error"), 0))
      val (files, bytes) = parquetFiles(dir.resolve(ExtractJob.ResultsTable))
      val byType = rows.groupBy(_.getString(2)).map { case (t, rs) => s"mix.docs_$t" -> rs.length.toLong }
      val mix = Map(
        "mix.docs_ok" -> rows.count(_.getString(1) == "ok").toLong,
        "mix.docs_error" -> rows.count(_.getString(1) == "error").toLong,
        "mix.payload_bytes_in" -> ref.map(_.page.html.length.toLong).sum,
        "mix.markdown_bytes_out" -> rows.map(r => Option(r.getString(3)).map(_.getBytes(UTF_8).length.toLong).getOrElse(0L)).sum
      ) ++ byType
      Checked(expect.failure, files, bytes, mix)
    }
  }

  /** The resume path: `ExtractJob.run` again over the last operation's
    * warehouse. Every part is in its manifest, so the job reads the
    * manifest, scans the pages for part ids, skips them all, and leaves
    * the results as they were. */
  override def rerunOp: Option[Op] = Some(new Op {
    private val io = new ParquetTableIO(lastDir.toString)
    private var summary: ExtractJob.RunSummary = _
    private var parts = 0L

    def prepare(): Unit =
      parts = io.readTable(spark, ExtractJob.ManifestTable).select("part_id").distinct().count()

    def run(section: Section): Long = {
      summary = ExtractJob.run(spark, inIo.readTable(spark, "pages"), io, OpTs)
      summary.total
    }

    def check(): Checked = {
      val expect = new Expect
      checkResults(io, expect)
      expect("rerun summary", summary, ExtractJob.RunSummary(0, 0, 0, parts))
      Checked(expect.failure, 0, 0, Map.empty)
    }
  })

  def micro(tracer: Tracer): (Map[String, Double], Map[String, Kernel]) = {
    val root = tracer.newId()
    val t0 = System.nanoTime()
    val out = Map.newBuilder[String, Double]
    val pages = inIo.readTable(spark, "pages")
    out += "extract.stage_s" -> Stats.median((1 to 3).map { _ =>
      tracer.span("extract.stage", -1, root) {
        timeS(ExtractJob.extractedDf(pages).write.format("noop").mode("overwrite").save())
      }._1
    })

    // the write layer alone: the last operation's rows, laid out over the
    // job's P x S salted buckets as the job's exchange does, cached, then
    // written through TableIO into an empty warehouse
    val rows = new ParquetTableIO(lastDir.toString).readTable(spark, ExtractJob.ResultsTable)
      .repartition(64 * 4, pmod(xxhash64(col("url"), col("warc_ts")), lit(64 * 4)))
      .persist(StorageLevel.MEMORY_ONLY)
    rows.count()
    val io = new ParquetTableIO(ctx.dir("io_overwrite").toString)
    out += "io.overwrite_s" -> tracer.span("io.overwrite", -1, root) {
      timeS(io.overwritePartitions(rows, ExtractJob.ResultsTable, "part_id"))
    }._1
    rows.unpersist(blocking = true)
    deleteTree(ctx.dir("io_overwrite"))

    val html = ref.filter(_.ex.content_type == "html")
    val pdf = ref.filter(_.ex.content_type == "pdf")
    val htmlText = html.map(r => new String(r.page.html, UTF_8))
    val tokens = htmlText.map(Tokenizer.tokenize)
    val kernels = Map(
      "extract.html_us_per_doc" -> perCall(tracer, root, "extract.html", html)(r => Extractor.extract(r.page.url, r.page.html)),
      "extract.pdf_us_per_doc" -> perCall(tracer, root, "extract.pdf", pdf)(r => Extractor.extract(r.page.url, r.page.html)),
      "html.tokenize_us" -> perCall(tracer, root, "html.tokenize", htmlText)(Tokenizer.tokenize),
      "html.dom_us" -> perCall(tracer, root, "html.dom", tokens)(TreeBuilder.build),
      "html.extract_us" -> perCall(tracer, root, "html.extract", htmlText)(HtmlExtractor.extract),
      "pdf.parse_us" -> perCall(tracer, root, "pdf.parse", pdf)(r => PdfParser.parse(r.page.html)),
      "pdf.images_us" -> perCall(tracer, root, "pdf.images", pdf)(r => PdfParser.extractImages(r.page.html)))
    tracer.put(Span(root, -1, -1, "micro", t0, System.nanoTime()))
    (out.result(), kernels)
  }
}

/** `EvalJob.detail` + `summary` of a results table against seeded goldens. */
final class EvalWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val inIo = new ParquetTableIO(ctx.dir("input").toString)
  /** url -> (golden, prediction or null when the url has no ok result). */
  private var pairs: Map[String, (String, String)] = Map.empty
  private var goldenRows = 0L
  private var okRows = 0L

  def mainTable: String = "eval_detail"

  def prepare(): Unit = {
    import spark.implicits._
    val n = ctx.spark.sparkContext.defaultParallelism
    val docs = (0L until EvalDocs).map { i =>
      val p = Synth.page(ctx.seed, i)
      (p.url, Extractor.extract(p.url, p.html))
    }
    val missing = (0 until EvalDocs * EvalMissingPerMille / 1000).map(i => f"https://missing.example/doc-$i%05d")
    val goldens =
      docs.map { case (u, e) =>
        u -> Goldens.edit(ctx.seed, u, if (e.status == "ok") e.markdown else s"Reference text of $u")
      } ++ missing.map(u => u -> Goldens.edit(ctx.seed, u, s"Reference text of $u"))
    val ok = docs.collect { case (u, e) if e.status == "ok" => u -> e.markdown }.toMap
    pairs = goldens.map { case (u, g) => u -> (g, ok.getOrElse(u, null)) }.toMap
    goldenRows = goldens.length
    okRows = ok.size
    deleteTree(ctx.dir("input"))
    inIo.appendTable(docs.map { case (u, e) => (u, e.status, e.content_type, e.markdown, e.error) }
      .toDF("url", "status", "content_type", "markdown", "error").repartition(n), "results")
    // several golden files, so the metric stage runs on every core
    inIo.appendTable(goldens.toDF("url", "g_markdown").repartition(4 * n), "goldens")
  }

  def newOp(k: Int): Op = new Op {
    private val dir = ctx.dir(s"ops/$k")
    private val io = new ParquetTableIO(dir.toString)
    private var summary: org.apache.spark.sql.Row = _

    def prepare(): Unit = { deleteTree(ctx.dir(s"ops/${k - 1}")); deleteTree(dir) }

    def run(section: Section): Long = {
      section("jobs.eval_detail") {
        io.appendTable(EvalJob.detail(inIo.readTable(spark, "results"), inIo.readTable(spark, "goldens")), "eval_detail")
      }
      summary = section("jobs.eval_summary") {
        EvalJob.summary(io.readTable(spark, "eval_detail")).collect().head
      }
      summary.getAs[Long]("total")
    }

    def check(): Checked = {
      val detail = io.readTable(spark, "eval_detail").collect()
      val expect = new Expect
      val successes = detail.count(_.getAs[Boolean]("success")).toLong
      expect("detail rows", detail.length.toLong, goldenRows)
      expect("successes", successes, okRows)
      expect("summary total", summary.getAs[Long]("total"), detail.length.toLong)
      expect("summary successes", summary.getAs[Long]("successes"), successes)
      // a seeded sample of detail rows against direct Metrics calls
      val rng = new Synth.Rng(ctx.seed * 7 + k)
      val cols = Seq("cer", "wer", "word_acc", "table_acc", "seq_sim", "row_acc", "col_acc", "cell_acc")
      (1 to 16).map(_ => detail(rng.nextInt(detail.length))).foreach { r =>
        val url = r.getAs[String]("url")
        val (g, pred) = pairs(url)
        val m = if (pred == null) Metrics.failedRow else Metrics.evaluateOcr(g, pred)
        val want = Seq(m.cer, m.wer, m.wordAcc, m.tableAcc, m.sequenceSimilarity, m.rowAccuracy,
          m.columnAccuracy, m.cellAccuracy).map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        expect(s"success of $url", r.getAs[Boolean]("success"), pred != null)
        cols.zip(want).foreach { case (c, w) => expect.near(s"$c of $url", r.getAs[Double](c), w) }
      }
      val (files, bytes) = parquetFiles(dir.resolve("eval_detail"))
      Checked(expect.failure, files, bytes,
        Map("mix.docs_ok" -> successes, "mix.docs_error" -> (detail.length - successes)))
    }
  }

  def micro(tracer: Tracer): (Map[String, Double], Map[String, Kernel]) = {
    val root = tracer.newId()
    val t0 = System.nanoTime()
    val rng = new Synth.Rng(ctx.seed + 1)
    val okPairs = pairs.values.filter(_._2 != null).toVector.sortBy(_._1)
    val sample = (1 to 48).map(_ => okPairs(rng.nextInt(okPairs.length)))
    val texts = sample.flatMap { case (g, p) => Seq(g, p) }
    val norm = sample.map { case (g, p) => (TextNorm.normalize(g), TextNorm.normalize(p)) }
    val kernels = Map(
      "textnorm.normalize_us" -> perCall(tracer, root, "textnorm.normalize", texts)(TextNorm.normalize),
      "metrics.cer_us" -> perCall(tracer, root, "metrics.cer", norm)(p => Metrics.cer(p._1, p._2)),
      "metrics.wer_us" -> perCall(tracer, root, "metrics.wer", norm)(p => Metrics.wer(p._1, p._2)),
      "metrics.seqsim_us" -> perCall(tracer, root, "metrics.seqsim", norm)(p => Metrics.sequenceSimilarity(p._1, p._2)),
      "metrics.table_us" -> perCall(tracer, root, "metrics.table", norm) { p =>
        Metrics.tableAccuracy(p._1, p._2); Metrics.tableStructureAccuracy(p._1, p._2)
      },
      "metrics.evaluate_ocr_us" -> perCall(tracer, root, "metrics.evaluate_ocr", sample)(p => Metrics.evaluateOcr(p._1, p._2)))
    tracer.put(Span(root, -1, -1, "micro", t0, System.nanoTime()))
    (Map.empty, kernels)
  }
}
