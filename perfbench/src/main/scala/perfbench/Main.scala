package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

/** The benchmark process: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one line per metric, then, as the last line of stdout, the JSON
  * result. With `--trace 0` the metrics are the end-to-end ones; with
  * `--trace 1` untraced and traced operations alternate, and the metrics
  * are the per-layer ones. A JSON report with the machine record, every
  * operation and every span is written under `<work>/../reports`.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "cpu_s_per_kdoc" -> "s/kdoc", "out_files_per_kdoc" -> "files/kdoc",
    "out_bytes_per_doc" -> "B/doc", "ops_ok_share" -> "share", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.bytes_read" -> "B", "scan.bytes_per_done_doc" -> "B/doc",
    "exchange.shuffle_write_bytes" -> "B", "exchange.shuffle_write_s" -> "s",
    "exchange.fetch_wait_s" -> "s", "exchange.task_skew" -> "ratio",
    "write.files" -> "count", "write.bytes" -> "B", "write.records" -> "count",
    "write.task_run_s" -> "s", "write.task_commit_s" -> "s", "write.job_commit_s" -> "s",
    "io.overwrite_s" -> "s",
    "job.manifest_read_s" -> "s", "job.rerun_s" -> "s", "job.todo_parts_s" -> "s", "job.results_write_s" -> "s",
    "job.lineage_s" -> "s", "job.manifest_append_s" -> "s", "job.summary_s" -> "s",
    "op.driver_self_s" -> "s",
    "extract.stage_s" -> "s", "extract.html_us_per_doc" -> "us", "extract.pdf_us_per_doc" -> "us",
    "html.tokenize_us" -> "us", "html.dom_us" -> "us", "html.extract_us" -> "us",
    "pdf.parse_us" -> "us", "pdf.images_us" -> "us",
    "textnorm.normalize_us" -> "us", "metrics.cer_us" -> "us", "metrics.wer_us" -> "us",
    "metrics.seqsim_us" -> "us", "metrics.table_us" -> "us", "metrics.evaluate_ocr_us" -> "us",
    "jobs.eval_detail_s" -> "s", "jobs.eval_summary_s" -> "s",
    "jvm.gc_s" -> "s",
    "mix.docs_ok" -> "count", "mix.docs_error" -> "count", "mix.docs_html" -> "count",
    "mix.docs_pdf" -> "count", "mix.docs_image" -> "count", "mix.docs_media" -> "count",
    "mix.docs_unknown" -> "count", "mix.payload_bytes_in" -> "B", "mix.markdown_bytes_out" -> "B",
    "trace.overhead_share" -> "1", "trace.spans" -> "count")

  /** Set-up repeats of the inputs + reference step; the median is reported. */
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace, Paths.get(need("work")).toAbsolutePath)
  }

  /** Process CPU (user + sys) and collector time, both in nanoseconds. */
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  /** One measured operation. */
  final case class OpRecord(
      k: Int, traced: Boolean, rerun: Boolean, docs: Long, wallNs: Long, cpuNs: Long, gcNs: Long,
      checked: Checked, layers: Map[String, Double]) {
    def failed: Boolean = checked.failure.isDefined
  }

  def session(work: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = try parseArgs(argv) catch {
      case e: Exception => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    if (!Workloads.Names.contains(args.workload)) {
      System.err.println(s"perfbench: unknown workload '${args.workload}' (known: ${Workloads.Names.mkString(", ")})")
      sys.exit(2)
    }
    val code = try run(args, jvmStartMs) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        3
    }
    sys.exit(code)
  }

  def run(args: Args, jvmStartMs: Long): Int = {
    val before = Machine.sample()
    val nproc = Machine.nproc
    val jvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Files.createDirectories(args.work)

    val tSession = System.nanoTime()
    val spark = session(args.work, nproc)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val ctx = Ctx(spark, args.seed, args.work)
    val w = Workloads(args.workload, ctx)
    val tracer = new Tracer
    val collector = new SparkCollector
    val nanoMinusEpochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

    val prepS = (1 to SetupRepeats).map(_ => Workloads.timeS(w.prepare()))
    var opSeq = 0
    def runOp(traced: Boolean, rerun: Boolean = false): OpRecord = {
      opSeq += 1
      val k = opSeq
      val op = if (rerun) w.rerunOp.get else w.newOp(k)
      op.prepare()
      val root = tracer.newId()
      val sections = scala.collection.mutable.ArrayBuffer.empty[Span]
      val section = new Section {
        def apply[A](name: String)(f: => A): A =
          if (!traced) f
          else { val (r, s) = tracer.span(name, k, root)(f); sections += s; r }
      }
      if (traced) spark.sparkContext.addSparkListener(collector)
      val (c0, g0, t0) = (cpuNs(), gcNs(), System.nanoTime())
      val attempt = scala.util.Try(op.run(section))
      val (t1, c1, g1) = (System.nanoTime(), cpuNs(), gcNs())
      var layers = Map.empty[String, Double]
      if (traced) {
        SparkInternals.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
        tracer.put(Span(root, -1, k, s"op.${args.workload}${if (rerun) ".rerun" else ""}", t0, t1))
        layers = Layers.ofOp(collector.take(), tracer, root, k, sections.toSeq, nanoMinusEpochNs,
          w.mainTable, attempt.getOrElse(0L))
      }
      val docs = attempt.getOrElse(0L)
      val checked = attempt match {
        case scala.util.Failure(e) => Checked(Some(s"operation threw $e"), 0, 0, Map.empty)
        case _ => scala.util.Try(op.check()).fold(e => Checked(Some(s"check threw $e"), 0, 0, Map.empty), identity)
      }
      checked.failure.foreach(f => System.err.println(s"perfbench: operation $k failed: $f"))
      OpRecord(k, traced, rerun, docs, t1 - t0, c1 - c0, g1 - g0, checked, layers)
    }
    // the first operation in a fresh JVM is the slowest; it is set-up
    val warm = Workloads.timeS(runOp(traced = false))
    val setupS = jvmS + sessionS + Stats.median(prepS) + warm
    System.err.println(f"perfbench: set-up ${setupS}%.2f s (jvm $jvmS%.2f, session $sessionS%.2f, " +
      f"inputs ${prepS.map(x => f"$x%.2f").mkString("/")}, warm-up $warm%.2f)")

    // closed loop: the next operation starts when the previous one ends,
    // until `seconds` have passed; the one in flight then completes. Traced
    // runs alternate untraced and traced operations, starting and ending
    // untraced, so the JVM's warming trend cancels out of the overhead.
    val start = System.nanoTime()
    val measured = Vector.newBuilder[OpRecord]
    var n = 0
    do { measured += runOp(traced = args.trace && n % 2 == 1); n += 1 }
    while ((System.nanoTime() - start) / 1e9 < args.seconds || (args.trace && n % 2 == 0))
    val (traced, plain) = measured.result().partition(_.traced)
    val rerun = if (args.trace) w.rerunOp.map(_ => runOp(traced = true, rerun = true)) else None
    val (micro, kernels) = if (args.trace) w.micro(tracer) else (Map.empty[String, Double], Map.empty[String, Kernel])
    val after = Machine.sample()
    val contended = Machine.contention(before, after)
    contended.foreach(r => System.err.println(s"perfbench: CONTENDED run: $r"))

    val ops = plain ++ traced ++ rerun
    val failed = ops.count(_.failed)
    val metrics: Seq[(String, String, Double)] =
      if (!args.trace) endToEnd(plain, setupS).map { case (k, v) => (k, EndToEnd.toMap.apply(k), v) }
      else {
        val vals = perLayer(plain, traced, rerun, micro ++ kernels.map { case (k, v) => k -> v.usPerCall }, tracer)
        PerLayer.map { case (k, u) => (k, u, vals.getOrElse(k, 0.0)) }
      }
    val spans = tracer.spans
    val self = Spans.selfTimes(spans)

    val report = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "machine" -> Json.Raw(Json.obj(
        "nproc" -> nproc, "master" -> spark.sparkContext.master,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-XX")),
        "before" -> Json.Raw(Machine.json(before)), "after" -> Json.Raw(Machine.json(after)),
        "steal_share" -> Machine.stealShare(before, after),
        "contended" -> contended.isDefined, "contention" -> contended)),
      "setup" -> Json.Raw(Json.obj("setup_s" -> setupS, "jvm_s" -> jvmS, "session_s" -> sessionS,
        "inputs_s" -> prepS, "warmup_s" -> warm)),
      "ops" -> ops.map(o => Json.Raw(Json.obj(
        "k" -> o.k, "traced" -> o.traced, "rerun" -> o.rerun, "docs" -> o.docs, "wall_s" -> o.wallNs / 1e9,
        "cpu_s" -> o.cpuNs / 1e9, "gc_s" -> o.gcNs / 1e9, "out_files" -> o.checked.outFiles,
        "out_bytes" -> o.checked.outBytes, "failure" -> o.checked.failure, "mix" -> o.checked.mix,
        "layers" -> o.layers))),
      "op_wall_s" -> Json.Raw(summaryJson(plain.map(_.wallNs / 1e9))),
      "metrics" -> metrics.map { case (k, u, v) => k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }.toMap,
      "kernel_us" -> kernels.map { case (k, v) => k -> Json.Raw(summaryJson(v.samples)) },
      "span_self_s" -> spans.groupBy(_.name).map { case (n, ss) =>
        n -> Json.Raw(Json.obj("count" -> ss.length, "total_s" -> ss.map(_.durNs).sum / 1e9,
          "self_s" -> ss.map(s => self(s.id)).sum / 1e9))
      },
      "spans" -> spans.map(s => Json.Raw(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))))
    val reports = args.work.getParent.resolve("reports")
    Files.createDirectories(reports)
    val reportPath = reports.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.writeString(reportPath, report + "\n")

    spark.stop()

    println(s"perfbench workload=${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"nproc=$nproc master=local[$nproc] heap=${Runtime.getRuntime.maxMemory >> 20}MiB " +
      s"contended=${contended.getOrElse("no")} report=$reportPath")
    metrics.foreach { case (k, u, v) => println(f"  $k%-28s $v%16.6f $u") }
    println(f"  ${"ops_failed"}%-28s ${if (ops.isEmpty) 0.0 else failed.toDouble / ops.length}%16.6f share ($failed of ${ops.length})")
    println(Json.obj(
      "correct" -> (failed == 0 && ops.nonEmpty), "attempted" -> ops.length, "failed" -> failed,
      "metrics" -> metrics.map { case (k, u, v) => k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }.toMap))
    0
  }

  def summaryJson(xs: Seq[Double]): String = {
    val s = Stats.summary(xs)
    Json.obj("n" -> s.n, "p50" -> s.p50, "tail_pct" -> s.tailPct, "tail" -> s.tail)
  }

  /** End-to-end metrics over the untraced operations that passed their
    * check; a failed operation only lowers `ops_ok_share`. Rates are the
    * median over operations, so one operation hit by a burst of host
    * contention moves them less. */
  def endToEnd(ops: Seq[OpRecord], setupS: Double): Seq[(String, Double)] = {
    val good = ops.filterNot(_.failed)
    val docs = good.map(_.docs).sum.toDouble
    def per(x: Double, d: Double) = if (d <= 0) 0.0 else x / d
    def medianOver(f: OpRecord => Double) = if (good.isEmpty) 0.0 else Stats.median(good.map(f))
    Seq(
      "docs_per_s" -> medianOver(o => per(o.docs.toDouble, o.wallNs / 1e9)),
      "cpu_s_per_kdoc" -> medianOver(o => per(o.cpuNs / 1e9, o.docs / 1000.0)),
      "out_files_per_kdoc" -> per(good.map(_.checked.outFiles).sum.toDouble, docs / 1000),
      "out_bytes_per_doc" -> per(good.map(_.checked.outBytes).sum.toDouble, docs),
      "ops_ok_share" -> per(good.length.toDouble, ops.length.toDouble),
      "setup_s" -> setupS)
  }

  /** Per-layer metrics: means over the traced operations, the resume-path
    * rerun, the isolated micro measurements, and tracing overhead against
    * the untraced phase. */
  def perLayer(
      plain: Seq[OpRecord], traced: Seq[OpRecord], rerun: Option[OpRecord],
      micro: Map[String, Double], tracer: Tracer): Map[String, Double] = {
    val n = traced.length.max(1).toDouble
    val keys = traced.flatMap(o => o.layers.keys ++ o.checked.mix.keys).distinct
    val means = keys.map(k => k -> traced.map(o => o.layers.getOrElse(k, o.checked.mix.getOrElse(k, 0L).toDouble)).sum / n).toMap
    val gc = traced.map(_.gcNs).sum / 1e9 / n
    def mean(xs: Seq[OpRecord]) = xs.map(_.wallNs.toDouble).sum / xs.length
    val overhead = if (plain.isEmpty || traced.isEmpty) 0.0 else mean(traced) / mean(plain) - 1
    val resume = rerun.toSeq.flatMap(r => Seq(
      "job.rerun_s" -> r.wallNs / 1e9,
      "job.manifest_read_s" -> r.layers.getOrElse("job.manifest_read_s", 0.0)))
    means ++ resume ++ micro ++ Map("jvm.gc_s" -> gc, "trace.overhead_share" -> overhead,
      "trace.spans" -> tracer.spans.length.toDouble)
  }
}
