package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.ParquetTableIO
import graft.streaming.StreamingExtract

/** Streaming surface: AvailableNow drains the drop-box, the checkpoint
  * makes reruns incremental (files processed exactly once), and the
  * stateful url-dedup holds state across micro-batches. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def writeBatch(dir: String, ids: Range, part: String): Unit =
    spark.createDataset(ids.map(i => graft.synth.Synth.page(42L, i.toLong)))
      .write.mode("append").parquet(dir)

  test("AvailableNow drains existing files; restart processes only new files") {
    val src = SparkTestBase.tempDir("stream_src")
    val wh = SparkTestBase.tempDir("stream_wh")
    val ckpt = SparkTestBase.tempDir("stream_ckpt")
    val io = new ParquetTableIO(wh)

    writeBatch(src, 0 until 40, "a")
    val q1 = StreamingExtract.run(spark, src, io, "sresults", ckpt)
    q1.awaitTermination()
    val n1 = io.readTable(spark, "sresults").count()
    assert(n1 == 40)

    // second drop: 20 new docs; restart from the same checkpoint
    writeBatch(src, 40 until 60, "b")
    val q2 = StreamingExtract.run(spark, src, io, "sresults", ckpt)
    q2.awaitTermination()
    val out = io.readTable(spark, "sresults")
    assert(out.count() == 60) // appended only the new 20, no reprocessing
    assert(out.select("url").distinct().count() == 60)
    // streaming output matches the batch extraction byte-for-byte
    val batchOut = graft.extract.ExtractJob.extractedDf(
      spark.createDataset((0 until 60).map(i => graft.synth.Synth.page(42L, i.toLong))).toDF())
      .select($"url", $"extracted.markdown".as("b_markdown"))
    val joined = out.join(batchOut, Seq("url"))
    assert(joined.filter(!($"markdown" <=> $"b_markdown")).count() == 0)
  }

  test("streaming count-min equals the batch sketch exactly after draining") {
    import org.apache.spark.sql.streaming.Trigger
    val src = SparkTestBase.tempDir("cms_src")
    val ckpt = SparkTestBase.tempDir("cms_ckpt")
    writeBatch(src, 0 until 30, "a")
    val q = StreamingExtract.streamingCountMin(spark, src, depth = 3, width = 32)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .format("memory")
      .queryName("cms_stream")
      .start()
    q.awaitTermination()
    val streamed = spark.table("cms_stream")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // pure sums commute with micro-batch boundaries: exact batch equality
    val hashUdf = udf((t: String) => graft.ops.Dedup.polyHash(t))
    val batchToks = spark.createDataset((0 until 30).map(i => graft.synth.Synth.page(42L, i.toLong)))
      .toDF()
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .select(hashUdf(col("term")).as("h"))
    val batch = graft.ops.Sketches.countMin(batchToks, col("h"), lit(1L), depth = 3, width = 32)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // the state is the bounded sketch: never more than depth*width cells
    assert(streamed.size <= 96)
    spark.sql("DROP VIEW IF EXISTS cms_stream")
  }

  test("stateful url dedup: re-fetched urls in later batches are dropped") {
    val src = SparkTestBase.tempDir("dedup_src")
    val wh = SparkTestBase.tempDir("dedup_wh")
    val ckpt = SparkTestBase.tempDir("dedup_ckpt")
    val io = new ParquetTableIO(wh)

    writeBatch(src, 0 until 30, "a")
    StreamingExtract.run(spark, src, io, "dresults", ckpt, dedupUrls = true).awaitTermination()
    // re-drop the same 30 urls plus 10 new ones
    writeBatch(src, 0 until 30, "b")
    writeBatch(src, 30 until 40, "c")
    val q = StreamingExtract.run(spark, src, io, "dresults", ckpt, dedupUrls = true)
    q.awaitTermination()

    val out = io.readTable(spark, "dresults")
    assert(out.count() == 40, "state must drop the 30 re-fetched urls")
    assert(out.select("url").distinct().count() == 40)
    // the dedup state key must be the 64-bit url hash (8 bytes/entry at
    // 10^12 scale), not the raw url string
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    val dedupNodes = exec.executedPlan.collect {
      case s: org.apache.spark.sql.execution.streaming.operators.stateful.StreamingDeduplicateExec => s
    }
    assert(dedupNodes.nonEmpty, exec.executedPlan.toString)
    val keyNames = dedupNodes.head.keyExpressions.map(_.name)
    assert(keyNames == Seq("url_h"), s"state key is $keyNames")
  }

  private def writeTsBatch(dir: String, rows: Seq[(String, Long)]): Unit = {
    // hand-built pages rows (payload irrelevant to the metric streams)
    val data = rows.map { case (url, tsMs) =>
      (url, new java.sql.Timestamp(tsMs), Array.emptyByteArray, null: String, "en")
    }
    spark.createDataset(data)
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("append").parquet(dir)
  }

  test("watermarked hour window: closed hours emit exactly once, open hours stay in state") {
    val src = SparkTestBase.tempDir("wm_src")
    val h0 = 1693872000000L // 2023-09-05T00:00:00Z
    // hour 0: 3 docs on hostA, 2 on hostB; hour 1: 4 on hostA; hour 3: 1 doc
    // (advances the watermark to 01:00, closing hour 0 but not 1 or 3)
    writeTsBatch(src,
      (1 to 3).map(i => (s"https://a.example/$i", h0 + i * 1000L)) ++
        (1 to 2).map(i => (s"https://b.example/$i", h0 + i * 2000L)) ++
        (1 to 4).map(i => (s"https://a.example/h1-$i", h0 + 3600000L + i * 1000L)) ++
        Seq(("https://a.example/h3", h0 + 3 * 3600000L)))
    val q = StreamingExtract.hostHourCounts(spark, src, watermark = "2 hours")
      .writeStream.format("memory").queryName("wm_counts")
      .outputMode("append")
      .option("checkpointLocation", SparkTestBase.tempDir("wm_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("wm_counts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // watermark = 03:00 - 2h = 01:00: hour 0 is closed and emitted; hour 1's
    // window [01:00,02:00) is not fully below the watermark, hour 3 is open
    assert(rows == Set(
      (h0 * 1000, "a.example", 3L),
      (h0 * 1000, "b.example", 2L)), rows.mkString(", "))
  }

  test("mapGroupsWithState host sessions: state carries across restarts") {
    val src = SparkTestBase.tempDir("sess_src")
    val ckpt = SparkTestBase.tempDir("sess_ckpt")
    val h0 = 1693872000000L
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingExtract.HostSession]()
    def run(): Unit = {
      val q = StreamingExtract.hostSessions(spark, src)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamingExtract.HostSession], _: Long) =>
            batch.collect().foreach(seen.add)
        }
        .start()
      q.awaitTermination()
    }
    writeTsBatch(src, (0 until 10).map(i => (s"https://a.example/$i", h0 + i * 1000L)))
    run()
    // second drop extends the same host's session; state must resume
    writeTsBatch(src, (10 until 20).map(i => (s"https://a.example/$i", h0 + i * 1000L)))
    writeTsBatch(src, Seq(("https://b.example/x", h0 + 99000L)))
    run()
    import scala.jdk.CollectionConverters._
    val byHost = seen.asScala.toSeq.groupBy(_.host)
    val a = byHost("a.example").maxBy(_.n_docs)
    assert(a.n_docs == 20L && a.first_us == h0 * 1000 && a.last_us == (h0 + 19000L) * 1000,
      byHost.toString)
    assert(byHost("b.example").maxBy(_.n_docs).n_docs == 1L)
  }

  test("ttlDedupUpdate: first-seen emits, inside-TTL drops, after-TTL re-emits, timeout evicts") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttlUs = 60L * 60L * 1000000L // 1h
    val f = StreamingExtract.ttlDedupUpdate(ttlUs) _
    def st(init: Option[Long], timedOut: Boolean = false) =
      TestGroupState.create[Long](
        org.apache.spark.api.java.Optional.ofNullable(init.map(Long.box).orNull)
          .asInstanceOf[org.apache.spark.api.java.Optional[Long]],
        GroupStateTimeout.EventTimeTimeout, 0L,
        org.apache.spark.api.java.Optional.of(java.lang.Long.valueOf(0L))
          .asInstanceOf[org.apache.spark.api.java.Optional[Long]], timedOut)
    // fresh key, three rows: t0 emits, t0+30min drops, t0+90min re-emits
    val t0 = 10_000_000_000L // us
    def tsOf(us: Long) = new java.sql.Timestamp(us / 1000L)
    val s1 = st(None)
    val got = f(7L, Iterator((7L, tsOf(t0)), (7L, tsOf(t0 + 30 * 60 * 1000000L)),
      (7L, tsOf(t0 + 90 * 60 * 1000000L))), s1).toList
    assert(got.map(_._2) == List(t0, t0 + 90 * 60 * 1000000L), got.toString)
    assert(s1.get == t0 + 90 * 60 * 1000000L)
    assert(s1.getTimeoutTimestampMs.get ==
      (t0 + 90 * 60 * 1000000L) / 1000L + ttlUs / 1000L)
    // existing state: inside-TTL row drops entirely
    val s2 = st(Some(t0))
    assert(f(7L, Iterator((7L, tsOf(t0 + 60_000_000L))), s2).isEmpty)
    // timed-out key: state removed, nothing emitted
    val s3 = st(Some(t0), timedOut = true)
    assert(f(7L, Iterator.empty, s3).isEmpty && s3.isRemoved)
    // end-to-end wiring: one AvailableNow batch emits first-seen urls once
    val src = SparkTestBase.tempDir("ttl_src")
    writeTsBatch(src, Seq(("https://a.example/1", 1000L), ("https://a.example/1", 2000L),
      ("https://b.example/2", 3000L)))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = StreamingExtract.dedupWithTtl(spark, src, ttlMinutes = 60)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        batch.collect().foreach(out.add)
      }
      .option("checkpointLocation", SparkTestBase.tempDir("ttl_ckpt"))
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val rows = out.asScala.toSeq
    assert(rows.size == 2, rows.toString) // dup within TTL dropped
  }

  test("streaming crawl loop: tail WARC segments -> extract -> WET publish per batch") {
    import graft.sources.Warc
    val src = SparkTestBase.tempDir("loop_src")
    val wetDir = SparkTestBase.tempDir("loop_wet")
    val ckpt = SparkTestBase.tempDir("loop_ckpt")
    // two crawl segments arrive (lexicographic names, the source contract)
    def segment(n: Int, ids: Range): Unit = {
      val os = new java.io.FileOutputStream(f"$src%s/seg-$n%05d.warc.gz")
      try ids.foreach { i =>
        val p = graft.synth.Synth.page(42L, i.toLong)
        Warc.writeGzipMember(os, graft.sources.WarcRecord("response", p.url,
          java.time.Instant.ofEpochSecond(1000L + i), s"<urn:graft:${p.url}>",
          200, "text/html", p.html))
      } finally os.close()
    }
    segment(0, 0 until 12)
    // each micro-batch extracts and publishes a WET shard set
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.WarcSource").load(src)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val ext = graft.extract.ExtractJob.extractedDf(
              batch.select(col("url"), col("warc_ts"), col("body").as("html")))
            .filter(col("extracted.status") === "ok")
            .select(col("url"), col("warc_ts"), lit(0).as("http_status"),
              lit("text/plain").as("content_type"),
              encode(col("extracted.markdown"), "UTF-8").as("body"))
          Warc.writeConversion(ext, s"$wetDir/batch-$id", overwrite = false)
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.format("graft.sources.WarcSource").load(s"$wetDir/batch-0").count()
    assert(n1 > 0 && n1 <= 12)
    // a new segment arrives; the restart processes ONLY it
    segment(1, 12 until 20)
    runOnce()
    val batches = new java.io.File(wetDir).listFiles().map(_.getName).sorted
    assert(batches.length == 2, batches.mkString(","))
    val all = spark.read.format("graft.sources.WarcSource").load(s"$wetDir/batch-*")
    val urls = all.select("url").as[String].collect().toSet
    assert(all.count() == urls.size) // exactly-once: no url published twice
    assert(all.filter(col("record_type") === "conversion").count() == all.count())
  }

  test("streamed results keep the batch columns: spans equal the batch extractedDf spans per url") {
    import org.apache.spark.sql.Row
    val src = SparkTestBase.tempDir("stream_spans_src")
    val io = new ParquetTableIO(SparkTestBase.tempDir("stream_spans_wh"))
    writeBatch(src, 0 until 40, "a")
    StreamingExtract.run(spark, src, io, "sresults", SparkTestBase.tempDir("stream_spans_ckpt"))
      .awaitTermination()
    val out = io.readTable(spark, "sresults")
    assert(out.columns.toSet == Set("url", "warc_ts", "lang", "status", "content_type",
      "markdown", "spans", "pages", "error", "batch_id"), out.columns.mkString(","))
    def spansByUrl(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Row]] =
      df.collect().map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
    val streamed = spansByUrl(out.select($"url", $"spans"))
    val batch = spansByUrl(graft.extract.ExtractJob.extractedDf(
      spark.createDataset((0 until 40).map(i => graft.synth.Synth.page(42L, i.toLong))).toDF())
      .select($"url", $"extracted.spans"))
    assert(streamed.size == 40 && streamed.keySet == batch.keySet)
    assert(streamed.values.exists(_.nonEmpty))
    batch.foreach { case (url, spans) => assert(streamed(url) == spans, url) }
  }
}
