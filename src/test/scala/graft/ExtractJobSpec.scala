package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{ExtractJob, Extractor, HtmlExtractor}
import graft.io.ParquetTableIO
import graft.model.ManifestRow
import graft.synth.Synth

/** End-to-end pipeline tests: synth corpus → extract → results + manifest
  * (whose done rows are the per-part lineage), plus the determinism +
  * resume properties the north_rule demands.
  */
class ExtractJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val runTs = Timestamp.valueOf("2023-09-05 00:00:00")

  /** The manifest's done rows (the per-part lineage), `run_ts` cleared,
    * ordered by part. */
  private def doneRows(io: ParquetTableIO): Seq[ManifestRow] = {
    import spark.implicits._
    io.readTable(spark, "manifest").filter($"status" === "done").as[ManifestRow].collect()
      .map(_.copy(run_ts = null)).sortBy(_.part_id).toSeq
  }

  /** What the done rows must hold for a results table of a P = 8 run: a
    * groupBy over it. */
  private def doneRowsOf(results: DataFrame): Seq[ManifestRow] = {
    import spark.implicits._
    val r = results.select($"part_id", $"status", $"content_type", substring_index($"error", ":", 1).as("class"),
      xxhash64($"url", $"markdown").as("h"), octet_length($"markdown").cast("long").as("bytes"))
    def counts(key: String): Map[Int, Map[String, Long]] =
      r.filter(col(key).isNotNull).groupBy("part_id", key).count().as[(Int, String, Long)].collect()
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(x => x._2 -> x._3).toMap }
    val (byType, byClass) = (counts("content_type"), counts("class"))
    r.groupBy("part_id").agg(count(lit(1)), count(when($"status" === "ok", 1)), count(when($"status" === "error", 1)),
      expr("bit_xor(h)"), sum("bytes")).as[(Int, Long, Long, Long, Long, Long)].collect()
      .map { case (p, n, ok, err, h, bytes) =>
        ManifestRow(p, 8, null, "done", n, ok, err, h, byType.getOrElse(p, Map.empty), byClass.getOrElse(p, Map.empty), bytes)
      }.sortBy(_.part_id).toSeq
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def scans(qe: QueryExecution): Seq[String] = Plans.collect(qe.executedPlan) {
    case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
  }.flatten

  private def writes(qe: QueryExecution): Option[String] = Plans.collectFirst(qe.executedPlan) {
    case org.apache.spark.sql.execution.command.DataWritingCommandExec(
        w: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand, _) =>
      w.outputPath.getName
  }

  /** The SQL executions `body` runs, as a listener sees them. Listener
    * events arrive in order, so once a marker query run after `body` is
    * seen, every execution of `body` is too. */
  private def executions(body: => Unit): Seq[QueryExecution] = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    def marker(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq("executions_marker")
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("executions_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(marker)) {
        assert(System.nanoTime() < deadline, "no marker execution seen")
        Thread.sleep(20)
      }
      seen.asScala.toSeq.filterNot(marker)
    } finally spark.listenerManager.unregister(listener)
  }

  test("synth corpus extracts end-to-end: ok + error rows, job never fails") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 200, seed = 42L, parallelism = 4).toDF()
    val wh = SparkTestBase.tempDir("wh")
    val io = new ParquetTableIO(wh)
    val s = ExtractJob.run(spark, pages, io, runTs, partitions = 16, salt = 2)
    assert(s.total == 200)
    assert(s.err > 0, "malformed slice must produce error rows")
    assert(s.ok > 150, s"expected most rows ok, got ${s.ok}")
    val res = io.readTable(spark, "results")
    // malformed PDFs (truncated / garbage xref) must error; malformed HTML may
    // degrade leniently but never crash (X7); error rows carry empty markdown + reason
    assert(res.filter($"url".contains("/broken/") && $"url".endsWith(".pdf"))
      .filter($"status" === "ok").count() == 0)
    assert(res.filter($"status" === "error")
      .filter(length($"markdown") > 0 || $"error".isNull).count() == 0)
    // hard-fail malformed kinds, asserted at the kernel level
    assert(Extractor.extract("https://h/e.html", Array.emptyByteArray).status == "error")
    assert(Extractor.extract("https://h/u.html",
      Array[Byte](0xff.toByte, 0xfe.toByte, 0x00, 0x01, 0x80.toByte)).status == "error")
    // lineage covers all non-empty partitions and counts add up
    val lin = io.readTable(spark, "manifest").filter($"status" === "done")
    val (rc, okc, ec) = lin.agg(sum("row_count"), sum("ok_count"), sum("err_count"))
      .as[(Long, Long, Long)].first()
    assert(rc == 200 && okc == s.ok && ec == s.err)
  }

  test("markdown contract invariants (prompt.py:9-22) on ok html rows") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 120, seed = 7L, parallelism = 4).toDF()
    val md = ExtractJob.extractedDf(pages)
      .select($"url", $"extracted.status".as("status"), $"extracted.content_type".as("ct"),
        $"extracted.markdown".as("markdown"))
      .filter($"status" === "ok" && $"ct" === "html")
      .as[(String, String, String, String)].collect()
    assert(md.nonEmpty)
    md.foreach { case (url, _, _, m) =>
      assert(!m.contains("<table"), s"raw html table leaked: $url")
      assert(!m.contains("```"), s"code fence invented: $url")
      assert(!m.contains("<script"), s"script leaked: $url")
      assert(!m.toLowerCase.contains("should never appear"), s"script text leaked: $url")
      assert(!m.contains("We use cookies"), s"cookie banner leaked: $url")
      assert(!m.contains("Site Banner Not Content"), s"header boilerplate leaked: $url")
      // every table line is pipe-framed
      m.split("\n").filter(_.startsWith("|")).foreach { line =>
        assert(line.endsWith("|"), s"unframed table line in $url: $line")
      }
    }
  }

  test("extraction is deterministic: same corpus, different partitioning, same bytes") {
    import spark.implicits._
    val a = Synth.pagesDs(spark, 150, seed = 42L, parallelism = 2).toDF()
    val b = Synth.pagesDs(spark, 150, seed = 42L, parallelism = 7)
      .toDF().repartition(13, $"url")
    def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
      ExtractJob.extractedDf(df)
        .select(xxhash64($"url", $"extracted.markdown", $"extracted.status").as("h"))
        .agg(expr("bit_xor(h)")).as[Long].first()
    assert(fingerprint(a) == fingerprint(b))
  }

  test("resume: second run skips all manifested partitions and changes nothing") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 100, seed = 3L, parallelism = 4).toDF()
    val wh = SparkTestBase.tempDir("wh-resume")
    val io = new ParquetTableIO(wh)
    val s1 = ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2)
    assert(s1.skippedParts == 0)
    val chk1 = io.readTable(spark, "manifest").filter($"status" === "done")
      .agg(expr("bit_xor(checksum)")).as[Long].first()
    // capture results file mtimes
    def mtimes(dir: String): Map[String, Long] = {
      val base = new java.io.File(s"$wh/$dir")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val m1 = mtimes("results")
    Thread.sleep(1100)
    val s2 = ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2)
    assert(s2.total == 0, "all partitions should be skipped on rerun")
    assert(s2.skippedParts > 0)
    val m2 = mtimes("results")
    assert(m1 == m2, "resume must not rewrite completed partitions")
    val chk2 = io.readTable(spark, "manifest").filter($"status" === "done")
      .agg(expr("bit_xor(checksum)")).as[Long].first()
    assert(chk1 == chk2)
  }

  test("results layout: at most S files per part; rows, summary and lineage match the kernel outside Spark") {
    import spark.implicits._
    val n = 240
    val pages = Synth.pagesDs(spark, n, seed = 11L, parallelism = 4)
    val wh = SparkTestBase.tempDir("wh-layout")
    val io = new ParquetTableIO(wh)
    val s = ExtractJob.run(spark, pages.toDF(), io, runTs, partitions = 8, salt = 2)

    val partDirs = new java.io.File(s"$wh/results").listFiles().filter(_.getName.startsWith("part_id="))
    assert(partDirs.length == 8)
    partDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 2, s"${d.getName} holds $files parquet files")
    }

    // reference: the kernel called directly on each generated page
    val ref = pages.collect().map(p => p.url -> Extractor.extract(p.url, p.html)).toMap
    assert(ref.size == n)
    val got = io.readTable(spark, "results")
      .select($"url", $"status", $"content_type", $"markdown", $"error")
      .as[(String, String, String, String, String)].collect()
    assert(got.length == n)
    got.foreach { case (url, status, ct, md, err) =>
      val e = ref(url)
      assert((status, ct, md, err) == ((e.status, e.content_type, e.markdown, e.error)), url)
    }
    assert(s == ExtractJob.RunSummary(n, ref.values.count(_.status == "ok"),
      ref.values.count(_.status == "error"), 0))
    val refChecksum = ref.toSeq.map { case (url, e) => (url, e.markdown) }.toDF("url", "markdown")
      .agg(expr("bit_xor(xxhash64(url, markdown))")).as[Long].first()
    val linChecksum = io.readTable(spark, "manifest").filter($"status" === "done")
      .agg(expr("bit_xor(checksum)")).as[Long].first()
    assert(linChecksum == refChecksum)
  }

  test("resume on a file: URI warehouse: the second run skips every part") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 60, seed = 5L, parallelism = 4).toDF()
    val io = new ParquetTableIO("file:" + SparkTestBase.tempDir("wh-uri"))
    val s1 = ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2)
    assert(s1.total == 60 && s1.skippedParts == 0)
    val parts = io.readTable(spark, "manifest").select("part_id").distinct().count()
    assert(ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2) ==
      ExtractJob.RunSummary(0, 0, 0, parts))
  }

  test("empty input, and a local input the manifest skips entirely, finish with an empty run") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    val io = new ParquetTableIO(SparkTestBase.tempDir("wh-empty"))
    def run(pages: org.apache.spark.sql.DataFrame) = Await.result(Future(
      ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2))(ExecutionContext.global), 60.seconds)
    assert(run(spark.emptyDataset[graft.model.Page].toDF()) == ExtractJob.RunSummary(0, 0, 0, 0))
    val local = Synth.pagesDs(spark, 20, seed = 19L, parallelism = 2).collect().toSeq.toDS().toDF()
    val first = run(local)
    assert(first.total == 20 && first.skippedParts == 0)
    val parts = io.readTable(spark, "manifest").count()
    assert(run(local) == ExtractJob.RunSummary(0, 0, 0, parts))
  }

  test("partial resume: parts marked done beforehand are skipped; the rest are written once") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 120, seed = 13L, parallelism = 4).toDF()
    val wh = SparkTestBase.tempDir("wh-partial")
    val io = new ParquetTableIO(wh)
    val done = Set(0, 2, 4, 6)
    val earlier = Timestamp.valueOf("2023-09-04 00:00:00")
    io.appendTable(done.toSeq.sorted.map(p => ManifestRow(p, 8, earlier, "done", 0, 0, 0, 0, Map.empty, Map.empty, 0))
      .toDS().toDF(), "manifest")
    val inputParts = pages.select(pmod(xxhash64($"url"), lit(8)).cast("int").as("p"))
      .groupBy("p").count().as[(Int, Long)].collect().toMap
    val todo = inputParts.keySet -- done
    assert(todo.nonEmpty && inputParts.keySet.exists(done))

    val s = ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2)
    assert(s.skippedParts == 4)
    assert(s.total == todo.toSeq.map(inputParts).sum)
    val resultParts = io.readTable(spark, "results").groupBy("part_id").count().as[(Int, Long)].collect()
    assert(resultParts.toMap == inputParts.filter { case (p, _) => todo(p) })
    assert(new java.io.File(s"$wh/results").listFiles().map(_.getName)
      .filter(_.startsWith("part_id=")).toSet == todo.map(p => s"part_id=$p"))
    val lineage = io.readTable(spark, "manifest").filter($"status" === "done" && $"run_ts" === runTs)
      .select("part_id", "row_count").as[(Int, Long)].collect()
    assert(lineage.toMap == inputParts.filter { case (p, _) => todo(p) } && lineage.length == todo.size)
    val manifest = io.readTable(spark, "manifest").select("part_id").as[Int].collect()
    assert(manifest.sorted.toSeq == (done ++ todo).toSeq.sorted)
  }

  test("one pass: run scans the input once, never reads results back; the tally sits above the exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val in = SparkTestBase.tempDir("one-pass-in")
    Synth.pagesDs(spark, 80, seed = 17L, parallelism = 4).write.parquet(s"$in/pages")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val wh = SparkTestBase.tempDir("wh-one-pass")
        val io = new ParquetTableIO(wh)
        val pages = spark.read.parquet(s"$in/pages")
        var jobs = Seq.empty[String]
        val qes = executions {
          jobs = SparkTestBase.jobsDuring(ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2))
        }
        assert(!qes.exists(scans(_).contains("results")), s"aqe=$aqe: results read back")
        assert(qes.count(scans(_).contains("pages")) == 1, s"aqe=$aqe: ${qes.map(scans)}")
        // one write, the results; the manifest commit is written on the
        // driver, still as one file
        assert(qes.flatMap(writes) == Seq("results"), s"aqe=$aqe: ${qes.map(writes)}")
        assert(new java.io.File(s"$wh/manifest").list().count(_.endsWith(".parquet")) == 1)
        // the results write's job, and under AQE the job of its map stage
        assert(jobs.length == (if (aqe == "true") 2 else 1), s"aqe=$aqe: $jobs")
        // the tally is evaluated in the write's result stage: above the
        // one part-aligned exchange, with no exchange above it
        val write = qes.filter(writes(_).contains("results"))
        assert(write.length == 1)
        val plan = write.head.executedPlan
        val tallies = Plans.collect(plan) { case c: CollectMetricsExec => c }
        assert(tallies.length == 1, s"aqe=$aqe\n$plan")
        val below = Plans.collect(tallies.head) { case e: ShuffleExchangeExec => e }
        assert(below.length == 1 && Plans.collect(plan) { case e: ShuffleExchangeExec => e }.length == 1,
          s"aqe=$aqe\n$plan")
        below.head.outputPartitioning match {
          case HashPartitioning(keys, _) =>
            assert(keys.flatMap(_.references.map(_.name)) == Seq("part_id", "salt_k"), s"aqe=$aqe\n$plan")
          case other => fail(s"aqe=$aqe: not a hash exchange: $other\n$plan")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("a manifest commit cut short before its rename: the next run redoes exactly its parts") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 120, seed = 31L, parallelism = 4).toDF()
    val firstHalf = pages.filter(pmod(xxhash64($"url"), lit(8)) < 4)
    def results(io: ParquetTableIO) = io.readTable(spark, "results")
      .select("part_id", "url", "status", "markdown").as[(Int, String, String, String)].collect().sorted.toSeq
    def hidden(wh: String) = new java.io.File(s"$wh/manifest").list().toSeq.filter(_.startsWith("."))
    val clean = new ParquetTableIO(SparkTestBase.tempDir("wh-clean"))
    ExtractJob.run(spark, pages, clean, runTs, partitions = 8, salt = 2)
    val (cleanDone, cleanResults) = (doneRows(clean), results(clean))
    assert(cleanDone.map(_.part_id) == (0 until 8))

    // the first commit of a warehouse, cut short: no manifest, so the next run redoes every part
    val fresh = SparkTestBase.tempDir("wh-cut-fresh")
    intercept[java.io.IOException](ExtractJob.run(spark, pages, new CutShortCommits(fresh), runTs, 8, 2))
    assert(hidden(fresh).exists(_.endsWith(".parquet")) && !new ParquetTableIO(fresh).tableExists(spark, "manifest"))
    val io = new ParquetTableIO(fresh)
    assert(ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2) ==
      ExtractJob.RunSummary(120, cleanDone.map(_.ok_count).sum, cleanDone.map(_.err_count).sum, 0))
    assert(doneRows(io) == cleanDone && results(io) == cleanResults)

    // a later commit, cut short: readers see the earlier commit only, and
    // the next run redoes exactly the parts of the one cut short
    val wh = SparkTestBase.tempDir("wh-cut-later")
    val later = new ParquetTableIO(wh)
    assert(ExtractJob.run(spark, firstHalf, later, runTs, partitions = 8, salt = 2).skippedParts == 0)
    val committed = later.readTable(spark, "manifest").as[ManifestRow].collect().toSeq
    assert(committed.map(_.part_id).sorted == (0 until 4))
    intercept[java.io.IOException](ExtractJob.run(spark, pages, new CutShortCommits(wh), runTs, 8, 2))
    assert(hidden(wh).count(_.endsWith(".parquet")) == 1, hidden(wh))
    assert(new java.io.File(s"$wh/manifest").list().count(n => !n.startsWith(".")) == 1)
    assert(later.readTable(spark, "manifest").as[ManifestRow].collect().toSeq == committed)
    assert(spark.read.parquet(s"$wh/manifest").as[ManifestRow].collect().toSeq == committed)
    val redo = ExtractJob.run(spark, pages, later, runTs, partitions = 8, salt = 2)
    val redone = cleanDone.filter(_.part_id >= 4)
    assert(redo == ExtractJob.RunSummary(redone.map(_.row_count).sum, redone.map(_.ok_count).sum,
      redone.map(_.err_count).sum, 4))
    assert(doneRows(later) == cleanDone && results(later) == cleanResults)
  }

  test("a manifest of the old columns is refused before any results are written") {
    import spark.implicits._
    val wh = SparkTestBase.tempDir("wh-old-manifest")
    val io = new ParquetTableIO(wh)
    io.appendTable(Seq((0, runTs, "done")).toDF("part_id", "run_ts", "status"), "manifest")
    val pages = Synth.pagesDs(spark, 40, seed = 29L, parallelism = 2).toDF()
    val e = intercept[IllegalArgumentException](ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2))
    assert(e.getMessage.contains("MIGRATION"), e.getMessage)
    assert(!new java.io.File(s"$wh/results").exists())
    // a manifest of the ten columns before `partitions` is refused the same way
    val wh10 = SparkTestBase.tempDir("wh-ten-column-manifest")
    val io10 = new ParquetTableIO(wh10)
    io10.appendTable(Seq(ManifestRow(0, 8, runTs, "done", 0, 0, 0, 0, Map.empty, Map.empty, 0)).toDS()
      .drop("partitions"), "manifest")
    val e10 = intercept[IllegalArgumentException](ExtractJob.run(spark, pages, io10, runTs, partitions = 8, salt = 2))
    assert(e10.getMessage.contains("MIGRATION"), e10.getMessage)
    assert(!new java.io.File(s"$wh10/results").exists())
  }

  test("a resume under another partitions count is refused before any write") {
    import spark.implicits._
    val pages = Synth.pagesDs(spark, 200, seed = 23L, parallelism = 4).toDF()
    val wh = SparkTestBase.tempDir("wh-other-partitions")
    val io = new ParquetTableIO(wh)
    assert(ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2).total == 200)
    def files(): Set[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try walk.iterator().asScala.map(_.toFile).filter(_.isFile).map(f => (f.getPath, f.length, f.lastModified)).toSet
      finally walk.close()
    }
    val before = files()
    val e = intercept[IllegalArgumentException](ExtractJob.run(spark, pages, io, runTs, partitions = 16, salt = 2))
    assert(e.getMessage.contains("partitions = 8") && e.getMessage.contains("partitions = 16"), e.getMessage)
    assert(files() == before)
    val urls = io.readTable(spark, "results").select("url").as[String].collect()
    assert(urls.length == 200 && urls.distinct.length == 200)
    assert(doneRows(io).map(_.partitions).toSet == Set(8))
  }

  test("a rerun over a fully done manifest scans no pages and writes nothing") {
    val in = SparkTestBase.tempDir("fully-done-in")
    Synth.pagesDs(spark, 80, seed = 17L, parallelism = 4).write.parquet(s"$in/pages")
    val io = new ParquetTableIO(SparkTestBase.tempDir("wh-fully-done"))
    val first = ExtractJob.run(spark, spark.read.parquet(s"$in/pages"), io, runTs, partitions = 8, salt = 2)
    assert(first.total == 80 && doneRows(io).map(_.part_id) == (0 until 8))
    var rerun: ExtractJob.RunSummary = null
    val qes = executions {
      rerun = ExtractJob.run(spark, spark.read.parquet(s"$in/pages"), io, runTs, partitions = 8, salt = 2)
    }
    assert(rerun == ExtractJob.RunSummary(0, 0, 0, 8))
    assert(!qes.exists(scans(_).contains("pages")), qes.map(scans))
    assert(qes.flatMap(writes).isEmpty, qes.map(writes))
    // the resume read collects the done ids as they are: no aggregate, no exchange
    val reads = qes.filter(scans(_).contains("manifest"))
    assert(reads.nonEmpty, qes.map(scans))
    for (qe <- reads) assert(Plans.collect(qe.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, qe.executedPlan)
  }

  test("done rows are identical at any parallelism, and their counters are a groupBy over the results") {
    import spark.implicits._
    def run(pages: DataFrame): (Seq[ManifestRow], Seq[ManifestRow]) = {
      val io = new ParquetTableIO(SparkTestBase.tempDir("wh-counters"))
      ExtractJob.run(spark, pages, io, runTs, partitions = 8, salt = 2)
      (doneRows(io), doneRowsOf(io.readTable(spark, "results")))
    }
    val (a, aOf) = run(Synth.pagesDs(spark, 150, seed = 42L, parallelism = 2).toDF())
    val (b, bOf) = run(Synth.pagesDs(spark, 150, seed = 42L, parallelism = 7).toDF().repartition(13, $"url"))
    assert(a.length == 8 && a == b)
    assert(a == aOf && b == bOf)
    // the corpus exercises every counter
    assert(a.flatMap(_.by_content_type.keys).toSet.size >= 3 && a.exists(_.by_error_class.nonEmpty))
    assert(a.map(_.row_count).sum == 150 && a.map(_.markdown_bytes).sum > 0)
  }

  test("lineage under a task retry: the done rows count each row once") {
    // The shared local[4] session allows no task retry, so the job runs in
    // a child JVM at local[4,2] whose committer fails one results task once.
    val wh = SparkTestBase.tempDir("wh-retry")
    val javaBin = new java.io.File(new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val log = java.io.File.createTempFile("retry-child", ".log")
    log.deleteOnExit()
    val cmd = Seq(javaBin) ++ graft.Bench.addOpens ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), RetryChild.getClass.getName.stripSuffix("$"), wh)
    val proc = new ProcessBuilder(cmd: _*).redirectError(log).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40).mkString("\n")
    assert(rc == 0, s"child exit $rc\n$out\n$tail")
    assert(out.linesIterator.contains("failed=1 retried=1"), s"$out\n$tail")
    val io = new ParquetTableIO(wh)
    val done = doneRows(io)
    assert(done.map(_.row_count).sum == 120 && done == doneRowsOf(io.readTable(spark, "results")))
  }

  test("content-class hint beats an equally-sized link farm without article tags") {
    import graft.extract.HtmlExtractor
    // no <main>/<article>: selection must fall back to scoring; the link
    // farm has as much text as the story, but all under <a> + no hint
    val farmLinks = (1 to 12).map(i => s"""<a href="/$i">Interesting clickbait headline number $i</a>""").mkString(" ")
    val story = (1 to 6).map(i => s"<p>Sentence $i of the actual story body with plain words.</p>").mkString("\n")
    val html =
      s"""<html><body>
         |<div class="trending-links">$farmLinks</div>
         |<div class="post-body">$story</div>
         |</body></html>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.status == "ok" && r.markdown.contains("Sentence 1 of the actual story")
      && !r.markdown.contains("clickbait"), r.markdown)
  }

  test("nested article div beats its page-level wrapper (depth preference within 10%)") {
    // no <main>/<article>, no content-class hints: the wrapper's score is a
    // superset of the inner div's, so raw max would keep the wrapper (and
    // its stray boilerplate text); the deepest candidate within 10% wins
    val story = (1 to 8).map(i => s"<p>Sentence $i of the long article body with plenty of plain words.</p>").mkString("\n")
    val html =
      s"""<html><body>
         |<div id="page-wrap">stray wrapper residue
         |<div id="inner">$story</div>
         |</div>
         |</body></html>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.status == "ok" && r.markdown.contains("Sentence 1 of the long article"), r.markdown)
    assert(!r.markdown.contains("stray wrapper residue"), r.markdown)
  }

  test("depth preference never descends into a partial subtree (boosted comments box)") {
    // the wrapper holds the article text DIRECTLY plus a content-classed
    // comments box; the box's boosted score lands within 10% of the
    // wrapper's, but it carries only ~half the raw content — descending
    // would silently drop the article
    val article = (1 to 8).map(i => s"<p>Article sentence $i with plenty of plain words here.</p>").mkString
    val comments = (1 to 7).map(i => s"<p>Comment number $i says something moderately long.</p>").mkString
    val html =
      s"""<html><body><div id="wrap">
         |$article
         |<div class="text">$comments</div>
         |</div></body></html>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.status == "ok")
    assert(r.markdown.contains("Article sentence 1"), r.markdown)
    assert(r.markdown.contains("Comment number 1"), r.markdown) // box is still content here
  }

  test("block-level anchor inside content renders as a paragraph (rule 1: all visible text)") {
    val html =
      """<html><body><article>
        |<p>Intro paragraph with enough words to be clearly the article body.</p>
        |<a href="/part2">Continue reading part two</a>
        |<p>Closing paragraph of the article with more plain words.</p>
        |</article></body></html>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.status == "ok")
    assert(r.markdown.contains("Continue reading part two"), r.markdown)
    // rendered as its own block between the two paragraphs
    val blocks = r.markdown.split("\n\n")
    assert(blocks.exists(_.trim == "Continue reading part two"), r.markdown)
  }

  test("mutation fuzz: html extraction never throws on corrupted markup") {
    import graft.extract.Extractor
    val rng = new scala.util.Random(20260817L)
    val bases = (0 until 12).map(i => graft.synth.Synth.page(42L, i.toLong).html)
    var runs = 0
    for (base <- bases if !graft.pdf.PdfParser.isPdf(base)) {
      for (k <- 1 until 10) { // truncations
        Extractor.extract("u", java.util.Arrays.copyOfRange(base, 0, base.length * k / 10))
        runs += 1
      }
      for (_ <- 0 until 80) { // byte flips (may break UTF-8 → error row, fine)
        val m = base.clone()
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
        Extractor.extract("u", m)
        runs += 1
      }
      for (_ <- 0 until 40) { // structural splices
        val tokens = Seq("<table>", "</div>", "<<<", "&#xZZ;", "<!--", "<script>", "</p", "<a href=")
        val at = rng.nextInt(base.length)
        val t = tokens(rng.nextInt(tokens.length)).getBytes("UTF-8")
        val m = java.util.Arrays.copyOfRange(base, 0, at) ++ t ++
          java.util.Arrays.copyOfRange(base, at, base.length)
        Extractor.extract("u", m)
        runs += 1
      }
    }
    assert(runs > 500)
  }

  test("declared legacy charsets decode; undeclared invalid utf-8 stays an error row") {
    import graft.extract.HtmlExtractor
    val body = "<html><body><article><p>Café résumé straße</p></article></body></html>"
    // windows-1252 bytes are invalid UTF-8 for the accented chars
    val declared = ("<html><head><meta charset=\"windows-1252\"></head>" + body.drop("<html>".length))
      .getBytes("windows-1252")
    val r = HtmlExtractor.extractBytes(declared)
    assert(r.status == "ok" && r.markdown == "Café résumé straße", r.toString)
    // http-equiv form
    val httpEquiv = ("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\"></head>"
      + body.drop("<html>".length)).getBytes("ISO-8859-1")
    assert(HtmlExtractor.extractBytes(httpEquiv).markdown == "Café résumé straße")
    // same bytes with no declaration: error row, not a silent guess
    val undeclared = body.getBytes("windows-1252")
    assert(HtmlExtractor.extractBytes(undeclared).status == "error")
    // declared but wrong (utf-8 label on cp1252 bytes): still an error
    val lying = ("<html><head><meta charset=utf-8></head>" + body.drop("<html>".length))
      .getBytes("windows-1252")
    assert(HtmlExtractor.extractBytes(lying).status == "error")
    // UTF-8 BOM stripped, not rendered into the text
    val bom = (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ body.getBytes("UTF-8"))
    assert(HtmlExtractor.extractBytes(bom).markdown == "Café résumé straße")
  }

  test("dispatch: pdf magic sniffed from bytes, extension fallback, html default") {
    assert(Extractor.urlExt("https://h/x/doc.pdf") == "pdf")
    assert(Extractor.urlExt("https://h/x/doc.pdf?q=1#frag") == "pdf")
    assert(Extractor.urlExt("https://h/x/noext") == "")
    val pdf = graft.pdf.PdfWriter.write(Vector(
      graft.pdf.PdfWriter.PageSpec(Vector(Vector("From pdf")))))
    assert(Extractor.extract("https://h/a.bin", pdf).content_type == "pdf")
    val html = "<html><body><article><p>From html page with enough text.</p></article></body></html>"
    assert(Extractor.extract("https://h/a.html", html.getBytes).content_type == "html")
    assert(Extractor.extract("https://h/a.html", Array.emptyByteArray).status == "error")
  }

  test("non-text media labeled image/media + unsupported_media, never broken html") {
    def check(bytes: Array[Byte], ct: String): Unit = {
      val e = Extractor.extract("https://h/x.bin", bytes)
      assert(e.status == "error" && e.content_type == ct && e.error == "unsupported_media",
        s"${e.content_type}/${e.error}")
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    check(b(0xff, 0xd8, 0xff, 0xe0) ++ "JFIFxxxx".getBytes, "image") // jpeg
    check(b(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n') ++ b(0, 0, 0, 13), "image") // png
    check("GIF89a".getBytes ++ b(1, 2, 3), "image")
    check("GIF87a".getBytes ++ b(1, 2, 3), "image")
    check("RIFF".getBytes ++ b(8, 0, 0, 0) ++ "WEBPVP8 ".getBytes, "image")
    check("RIFF".getBytes ++ b(8, 0, 0, 0) ++ "WAVEfmt ".getBytes, "media")
    check("OggS".getBytes ++ b(0, 2), "media") // version byte 0
    check("ID3".getBytes ++ b(3, 0, 0, 0, 0, 2, 0), "media") // sync-safe size
    check(b(0, 0, 0, 0x20) ++ "ftypisom".getBytes, "media")
    // malformed non-media bytes still take the html error path
    val e = Extractor.extract("https://h/u.html", b(0xff, 0xfe, 0x00, 0x01, 0x80))
    assert(e.content_type == "html" && e.error == "invalid_utf8")
    // text payloads that merely START with a short magic string stay text:
    // structural bytes rule them out (printable text after "ID3 "/"OggS "
    // fails the size/version checks; lowercase after RIFF fails the 4CC)
    Seq("ID3 tags explained in this article with more text",
        "OggS is a container format page",
        "RIFF file format notes for archivists").foreach { t =>
      assert(Extractor.sniffMedia(t.getBytes) == null, t)
    }
    // synth media slice flows through the full kernel with the same labels
    val media = graft.synth.Synth.page(42L, 11L) // i%29==11 → media row
    assert(media.url.contains("/media/"))
    val me = Extractor.extract(media.url, media.html)
    assert(me.status == "error" && me.error == "unsupported_media"
      && Set("image", "media").contains(me.content_type))
  }

  test("html extractor picks article content over boilerplate wrappers") {
    val html =
      """<html><body>
        |<nav><a href="/">Home</a><a href="/a">About</a></nav>
        |<div class="sidebar"><a href="/x">L1</a><a href="/y">L2</a><a href="/z">L3</a></div>
        |<article><h1>Real Title</h1><p>The actual body of the article with plenty of words to win scoring.</p></article>
        |<footer>copyright</footer>
        |</body></html>""".stripMargin
    val e = HtmlExtractor.extract(html)
    assert(e.status == "ok")
    assert(e.markdown.startsWith("# Real Title"))
    assert(e.markdown.contains("actual body"))
    assert(!e.markdown.contains("Home"))
    assert(!e.markdown.contains("copyright"))
    // spans cover the output exactly, in order, with known kinds
    assert(e.spans.nonEmpty)
    assert(e.spans.head.kind == "heading")
    e.spans.foreach { s =>
      assert(s.start >= 0 && s.end <= e.markdown.length && s.start < s.end)
    }
  }
}

/** A warehouse whose `appendRows` commits are cut short: once the file
  * is written, before its rename, the rows run out with an exception. */
final class CutShortCommits(warehouse: String) extends graft.io.TableIO {
  private val io = new ParquetTableIO(warehouse)
  def readTable(spark: SparkSession, name: String): DataFrame = io.readTable(spark, name)
  def appendTable(df: DataFrame, name: String): Unit = io.appendTable(df, name)
  def appendRows[T](spark: SparkSession, rows: Seq[T], name: String)(implicit encoder: Encoder[T]): Unit =
    io.appendRows(spark, rows.to(LazyList).lazyAppendedAll(throw new java.io.IOException("cut short")), name)
  def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit =
    io.overwritePartitions(df, name, partitionCol)
  def tableExists(spark: SparkSession, name: String): Boolean = io.tableExists(spark, name)
}

/** The child JVM of the "lineage under a task retry" spec: one
  * `ExtractJob.run` of 120 synth pages into the warehouse `args(0)` at
  * `local[4,2]` (one retry per task) with [[FailOnceCommitter]], then one
  * stdout line with the failed and retried results-task commits. */
object RetryChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4,2]").appName("graft-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.output.committer.class", classOf[FailOnceCommitter].getName)
      .getOrCreate()
    val pages = Synth.pagesDs(spark, 120, seed = 23L, parallelism = 4).toDF()
    ExtractJob.run(spark, pages, new ParquetTableIO(args(0)), Timestamp.valueOf("2023-09-05 00:00:00"),
      partitions = 8, salt = 2)
    println(s"failed=${FailOnceCommitter.failed.get} retried=${FailOnceCommitter.retried.get}")
    spark.stop()
  }
}

/** A parquet committer whose task commit of the results table fails on
  * attempt 0 of task 0, so that task runs again. */
class FailOnceCommitter(path: Path, context: TaskAttemptContext) extends ParquetOutputCommitter(path, context) {
  override def commitTask(context: TaskAttemptContext): Unit = {
    val task = TaskContext.get()
    val results = path.toString.contains("/results/")
    if (results && task.partitionId() == 0 && task.attemptNumber() == 0) {
      FailOnceCommitter.failed.incrementAndGet()
      throw new java.io.IOException("injected commit failure")
    }
    super.commitTask(context)
    if (results && task.partitionId() == 0 && task.attemptNumber() > 0) FailOnceCommitter.retried.incrementAndGet()
  }
}

object FailOnceCommitter {
  val failed = new AtomicInteger
  val retried = new AtomicInteger
}
