package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Streams
import graft.sources.{Warc, WarcRecord}

/** WARC codec round-trips + the DataSourceV2 reader: distributed sink →
  * per-file partitions → pruned streaming scan. */
class WarcSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def rec(url: String, sec: Long, body: String) = WarcRecord(
    recordType = "response", targetUri = url,
    date = Instant.ofEpochSecond(sec), recordId = s"<urn:graft:$url>",
    httpStatus = 200, contentType = "text/html; charset=utf-8",
    body = body.getBytes(UTF_8))

  test("codec: record round-trips bytes, status, uri, date through plain stream") {
    val out = new ByteArrayOutputStream()
    Warc.writeRecord(out, rec("http://a.example/1", 1577836800L, "<html>héllo ✓</html>"))
    Warc.writeRecord(out, rec("http://a.example/2", 1577836801L, "second"))
    val rs = Warc.parse(new ByteArrayInputStream(out.toByteArray)).toList
    assert(rs.map(_.targetUri) == List("http://a.example/1", "http://a.example/2"))
    assert(rs.head.httpStatus == 200)
    assert(rs.head.contentType == "text/html; charset=utf-8")
    assert(rs.head.date == Instant.ofEpochSecond(1577836800L))
    assert(new String(rs.head.body, UTF_8) == "<html>héllo ✓</html>")
    assert(new String(rs(1).body, UTF_8) == "second")
  }

  test("codec: concatenated gzip members parse as one stream") {
    val out = new ByteArrayOutputStream()
    (1 to 5).foreach(i => Warc.writeGzipMember(out, rec(s"http://g.example/$i", 1577836800L + i, s"body $i")))
    val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(out.toByteArray))
    val rs = Warc.parse(in).toList
    assert(rs.size == 5)
    assert(rs.map(r => new String(r.body, UTF_8)) == (1 to 5).map(i => s"body $i").toList)
  }

  test("codec: truncated record fails loudly, not silently") {
    val out = new ByteArrayOutputStream()
    Warc.writeRecord(out, rec("http://a.example/1", 0L, "some body content here"))
    val bytes = out.toByteArray.dropRight(20)
    val ex = intercept[Exception] {
      Warc.parse(new ByteArrayInputStream(bytes)).toList
    }
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("sink + source: distributed write, per-file partitions, full round-trip") {
    val dir = Files.createTempDirectory("warc_rt").toString
    val df = (1 to 20).map(i =>
        (s"http://w.example/doc/$i", new java.sql.Timestamp((1577836800L + i) * 1000L),
          200, "text/html", s"<html>doc $i content</html>".getBytes(UTF_8)))
      .toDF("url", "warc_ts", "http_status", "content_type", "body")
      .repartition(3)
    Warc.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 3, files.mkString(","))

    val back = spark.read.format("graft.sources.WarcSource").load(dir)
    assert(back.rdd.getNumPartitions == 3) // one partition per file
    val rows = back.select("url", "http_status", "record_type", "content_type", "body", "warc_ts")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        new String(r.getAs[Array[Byte]](4), UTF_8), r.getTimestamp(5).getTime / 1000L))
      .toSet
    val want = (1 to 20).map(i => (s"http://w.example/doc/$i", 200, "response",
      "text/html", s"<html>doc $i content</html>", 1577836800L + i)).toSet
    assert(rows == want)
  }

  test("source: column pruning reaches the scan (ReadSchema has only url)") {
    val dir = Files.createTempDirectory("warc_prune").toString
    val df = Seq(("http://p.example/1", new java.sql.Timestamp(0L), 200, "text/html",
        "body".getBytes(UTF_8)))
      .toDF("url", "warc_ts", "http_status", "content_type", "body")
    Warc.write(df, dir)
    val q = spark.read.format("graft.sources.WarcSource").load(dir).select("url")
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scanDesc.contains("WarcScan[url]"), scanDesc)
    assert(q.as[String].collect().toList == List("http://p.example/1"))
  }

  test("end-to-end: synth crawl pages → WARC shards → WarcSource → extraction, byte-equal") {
    // the Common-Crawl shape: pages archived as .warc.gz, read back
    // through the DSv2 source, and fed to the same extraction stage the
    // parquet path uses — extracted text must be byte-identical.
    val dir = Files.createTempDirectory("warc_e2e").toString
    val pages = graft.synth.Synth.pagesDs(spark, 40L, seed = 7L).toDF()
    Warc.write(pages.select($"url", $"warc_ts", lit(200).as("http_status"),
      lit("text/html; charset=utf-8").as("content_type"), $"html".as("body")), dir)
    val fromWarc = spark.read.format("graft.sources.WarcSource").load(dir)
      .select($"url", $"warc_ts", $"body".as("html"))
    val got = graft.extract.ExtractJob.extractedDf(fromWarc)
      .select($"url", $"extracted.markdown".as("t")).as[(String, String)].collect().toMap
    val want = graft.extract.ExtractJob.extractedDf(pages.select($"url", $"html"))
      .select($"url", $"extracted.markdown".as("t")).as[(String, String)].collect().toMap
    assert(got.size == 40 && got == want)
  }

  test("streaming: tail a segment directory; checkpointed restart reads only new files") {
    val dir = SparkTestBase.tempDir("warc_sdir")
    val ckpt = SparkTestBase.tempDir("warc_sckpt")
    def seg(name: String, urls: Seq[String]): Unit = {
      val os = new java.io.FileOutputStream(s"$dir/$name")
      try urls.foreach(u => Warc.writeGzipMember(os, rec(u, 0L, s"body of $u")))
      finally os.close()
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.WarcSource").load(dir)
        .select($"url")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => seen.add(r.getString(0)))
        }
        .start()
      q.awaitTermination()
    }
    seg("part-00001.warc.gz", Seq("http://s.example/1", "http://s.example/2"))
    seg("part-00002.warc.gz", Seq("http://s.example/3"))
    run()
    assert(seen.size == 3, seen.toString)
    // a new segment arrives; restart from the checkpoint reads ONLY it
    seg("part-00003.warc.gz", Seq("http://s.example/4"))
    run()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == (1 to 4).map(i => s"http://s.example/$i"),
      seen.toString)
  }

  test("WET export: extraction published as envelope-free conversion records, round-trips") {
    val dir = Files.createTempDirectory("warc_wet").toString
    val pages = graft.synth.Synth.pagesDs(spark, 15L, seed = 3L).toDF()
    val ext = graft.extract.ExtractJob.extractedDf(pages.select($"url", $"warc_ts", $"html"))
      .select($"url", $"warc_ts", lit(0).as("http_status"),
        lit("text/plain").as("content_type"),
        encode($"extracted.markdown", "UTF-8").as("body"))
    Warc.writeConversion(ext, dir)
    val got = spark.read.format("graft.sources.WarcSource").load(dir)
      .select($"url", $"record_type", $"http_status", $"content_type",
        decode($"body", "UTF-8").as("t")).collect()
    assert(got.length == 15)
    assert(got.forall(r => r.getString(1) == "conversion" && r.getInt(2) == 0 &&
      r.getString(3) == "text/plain"), got.map(_.toString).mkString("\n"))
    val want = graft.extract.ExtractJob.extractedDf(pages.select($"url", $"html"))
      .select($"url", $"extracted.markdown").as[(String, String)].collect().toMap
    assert(got.map(r => r.getString(0) -> r.getString(4)).toMap == want)
  }

  test("source: warc_file lineage column and empty-dir scan") {
    val dir = Files.createTempDirectory("warc_lin").toString
    val df = Seq(("http://l.example/1", new java.sql.Timestamp(0L), 200, "text/html",
        "x".getBytes(UTF_8)))
      .toDF("url", "warc_ts", "http_status", "content_type", "body")
    Warc.write(df, dir)
    val f = spark.read.format("graft.sources.WarcSource").load(dir)
      .select("warc_file").as[String].head()
    assert(f.endsWith(".warc.gz"), f)
    val empty = Files.createTempDirectory("warc_empty").toString
    assert(spark.read.format("graft.sources.WarcSource").load(empty).count() == 0L)
  }

  // ------------------------------- HTTP transfer / content codings

  test("chunked coding round-trips incl. extension, trailer, odd sizes") {
    for (n <- Seq(0, 1, 7, 512, 513, 5000); cs <- Seq(1, 7, 512)) {
      val data = Array.tabulate(n)(i => (i * 31 + 5).toByte)
      val enc = Warc.chunkEncode(data, cs)
      val dec = Warc.chunkDecode(enc)
      assert(dec != null && dec.sameElements(data), s"n=$n cs=$cs")
    }
    // lowercase hex sizes with extension parse
    val manual = "a;name=val\r\n0123456789\r\n0\r\n\r\n".getBytes(UTF_8)
    assert(new String(Warc.chunkDecode(manual), UTF_8) == "0123456789")
  }

  test("coding-decoder fuzz: mutated wire bodies decode or return null, never throw") {
    val body = ("fuzz payload " * 40).getBytes(UTF_8)
    val wires = Seq(
      Warc.chunkEncode(body, 64),
      Warc.gzipEncode(body),
      Streams.deflate(body),
      Warc.chunkEncode(Warc.gzipEncode(body), 32))
    var decoded = 0
    for (w <- wires; k <- 0 until 150) {
      val t = w.clone()
      val pos = (k * 2654435761L % t.length).toInt.abs
      t(pos) = (t(pos) ^ (1 << (k % 8))).toByte
      // each decoder must return bytes or null — an exception fails the test
      if (Warc.chunkDecode(t) != null) decoded += 1
      if (Warc.contentDecode("gzip", t) != null) decoded += 1
      if (Warc.contentDecode("deflate", t) != null) decoded += 1
    }
    assert(decoded >= 0) // the loop ran; leniency is the assertion
  }

  test("damaged chunked body degrades to null (caller keeps raw), never throws") {
    assert(Warc.chunkDecode("zz\r\nxxx".getBytes(UTF_8)) == null)          // bad size
    assert(Warc.chunkDecode("ff\r\nshort".getBytes(UTF_8)) == null)        // truncated
    assert(Warc.chunkDecode(Array.emptyByteArray) == null)                  // empty
    assert(Warc.chunkDecode("5\r\nhello".getBytes(UTF_8)) == null)          // no final chunk
  }

  test("content codings: gzip, zlib deflate, bare deflate, identity, unknown") {
    val data = ("payload " * 100).getBytes(UTF_8)
    assert(Warc.contentDecode("gzip", Warc.gzipEncode(data)).sameElements(data))
    assert(Warc.contentDecode("x-gzip", Warc.gzipEncode(data)).sameElements(data))
    assert(Warc.contentDecode("deflate", Streams.deflate(data)).sameElements(data))
    assert(Warc.contentDecode("deflate",
      StreamsSpec.rawDeflate(data)).sameElements(data))
    assert(Warc.contentDecode("identity", data).sameElements(data))
    assert(Warc.contentDecode("br", data) == null)                          // unsupported
    assert(Warc.contentDecode("gzip", "not gzip at all".getBytes(UTF_8)) == null)
  }

  test("content-decode bomb: gzip and deflate past the per-stream ceiling are null, not an OOM") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // ~300 MiB of zeros compresses to ~300 KiB; decode must refuse it
    def bomb(out: java.io.OutputStream, flush: () => Unit): Unit = {
      val chunk = new Array[Byte](1 << 20)
      (0 until 300).foreach(_ => out.write(chunk))
      flush()
    }
    val gz = new ByteArrayOutputStream()
    val gzOut = new java.util.zip.GZIPOutputStream(gz)
    bomb(gzOut, () => gzOut.close())
    assert(Warc.contentDecode("gzip", gz.toByteArray) == null)
    for (nowrap <- Seq(false, true)) {
      val zl = new ByteArrayOutputStream()
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
      val zlOut = new java.util.zip.DeflaterOutputStream(zl, d)
      bomb(zlOut, () => { zlOut.close(); d.end() })
      assert(Warc.contentDecode("deflate", zl.toByteArray) == null, s"nowrap=$nowrap")
    }
    // an ordinary 1 MiB body still decodes
    val fine = new Array[Byte](1 << 20)
    assert(Warc.contentDecode("gzip", Warc.gzipEncode(fine)).sameElements(fine))
    // a zlib header asking for a preset dictionary (FDICT) is damaged
    // data: decoded or null within the time bound, never a spin
    val fdict = Array(0x78, 0xbb, 0, 0, 0, 1).map(_.toByte) ++ StreamsSpec.rawDeflate(fine)
    Await.result(Future(Warc.contentDecode("deflate", fdict))(ExecutionContext.global), 5.seconds)
  }

  test("codec: chunked + gzip response records decode transparently in parse") {
    val body = "<html><body>" + ("wire-coded content " * 50) + "</body></html>"
    val out = new ByteArrayOutputStream()
    Warc.writeRecord(out, rec("http://c.example/plain", 1577836800L, body))
    Warc.writeRecord(out, rec("http://c.example/gz", 1577836801L, body),
      contentEncoding = "gzip")
    Warc.writeRecord(out, rec("http://c.example/chunked", 1577836802L, body),
      chunked = true, chunkSize = 100)
    Warc.writeRecord(out, rec("http://c.example/both", 1577836803L, body),
      contentEncoding = "deflate", chunked = true, chunkSize = 64)
    val rs = Warc.parse(new ByteArrayInputStream(out.toByteArray)).toList
    assert(rs.length == 4)
    rs.foreach(r => assert(new String(r.body, UTF_8) == body, r.targetUri))
    assert(rs.forall(_.httpStatus == 200))
  }

  // ------------------------- digests, revisits, CDX random access

  test("payload digest matches the known SHA-1/base32 form") {
    // sha1("") = da39a3ee5e6b4b0d3255bfef95601890afd80709
    //          → base32 3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ
    assert(Warc.payloadDigest(Array.emptyByteArray) ==
      "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    // sha1("abc") = a9993e364706816aba3e25717850c26c9cd0d89d
    assert(Warc.payloadDigest("abc".getBytes(UTF_8)) ==
      "sha1:VGMT4NSHA2AWVOR6EVYXQUGCNSONBWE5")
  }

  test("surt key: host reversal, www strip, port/userinfo drop, query sort") {
    import graft.ops.WebOps.surtKernel
    assert(surtKernel("http://www.Example.COM/a/B?z=1&a=2") ==
      "com,example)/a/b?a=2&z=1")
    assert(surtKernel("https://user:pw@www3.news.example.co.uk:8443/path#frag") ==
      "uk,co,example,news)/path")
    assert(surtKernel("http://example.org") == "org,example)/")
    assert(surtKernel("http://sub.host.net/?x=1") == "net,host,sub)/?x=1")
  }

  test("records carry WARC-Payload-Digest; revisit records parse with refers_to") {
    val out = new ByteArrayOutputStream()
    Warc.writeRecord(out, rec("http://d.example/1", 1577836800L, "same body"))
    Warc.writeRecord(out, WarcRecord("revisit", "http://d.example/2",
      Instant.ofEpochSecond(1577836801L), "<urn:graft:http://d.example/2>", 0, "",
      Array.emptyByteArray, Warc.payloadDigest("same body".getBytes(UTF_8)),
      "http://d.example/1"), envelope = false)
    val rs = Warc.parse(new ByteArrayInputStream(out.toByteArray)).toList
    assert(rs.head.digest == Warc.payloadDigest("same body".getBytes(UTF_8)))
    assert(rs(1).recordType == "revisit" && rs(1).refersTo == "http://d.example/1")
    assert(rs(1).digest == rs.head.digest && rs(1).body.isEmpty)
  }

  test("sink dedupRevisits + resolveRevisits restores every payload") {
    val dir = Files.createTempDirectory("warc_rev").toString
    // 12 urls, 4 distinct bodies (i % 4) — 8 rows become revisits
    val rows = (1 to 12).map(i => (s"http://r.example/p$i",
      new java.sql.Timestamp(1000L * i), 200, "text/html",
      s"shared body ${i % 4}".getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, dedupRevisits = true)
    val raw = spark.read.format("graft.sources.WarcSource").load(dir)
    assert(raw.filter($"record_type" === "revisit").count() == 8)
    assert(raw.filter($"record_type" === "response").count() == 4)
    val resolved = Warc.resolveRevisits(raw)
      .select($"url", decode($"body", "UTF-8").as("t"), $"was_revisit", $"refers_to")
      .as[(String, String, Boolean, String)].collect()
    assert(resolved.length == 12)
    resolved.foreach { case (url, t, wasRev, refers) =>
      val i = url.stripPrefix("http://r.example/p").toInt
      assert(t == s"shared body ${i % 4}", url)
      // the lexicographically-first url per body is the original
      val orig = (1 to 12).filter(_ % 4 == i % 4).map(j => s"http://r.example/p$j").min
      assert(wasRev == (url != orig), url)
      if (wasRev) assert(refers == orig, url)
    }
  }

  test("resolveRevisits surfaces orphan revisits (original in an unloaded shard)") {
    val dir = Files.createTempDirectory("warc_orphan").toString
    val rows = Seq(
      ("http://o.example/a", new java.sql.Timestamp(1000L), 200, "text/html",
        "present body".getBytes(UTF_8)),
      ("http://o.example/b", new java.sql.Timestamp(2000L), 200, "text/html",
        "present body".getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, dedupRevisits = true)
    val raw = spark.read.format("graft.sources.WarcSource").load(dir)
    // simulate a partial shard load / cross-crawl revisit: drop the original
    val partial = raw.filter($"record_type" === "revisit")
    val resolved = Warc.resolveRevisits(partial)
      .select($"url", $"body", $"was_revisit", $"http_status").collect()
    assert(resolved.length == 1, "orphan revisit must surface, not vanish")
    val r = resolved.head
    assert(r.getString(0) == "http://o.example/b")
    assert(r.getAs[Array[Byte]](1).isEmpty && r.getBoolean(2) && r.getInt(3) == 0)
  }

  test("fetchByIndex rejects forged cdx offsets/lengths before allocating") {
    for ((off, len) <- Seq((0L, -5L), (-1L, 10L), (0L, Warc.MaxMemberBytes + 1))) {
      val ex = intercept[IllegalArgumentException] {
        Warc.fetchRecord("f.warc.gz", off, len,
          new org.apache.hadoop.conf.Configuration())
      }
      assert(ex.getMessage.contains("cdx entry"), ex.getMessage)
    }
  }

  test("hostile Content-Length fails loudly as a parse error, never an OOM allocation") {
    val out = new ByteArrayOutputStream()
    Warc.writeRecord(out, rec("http://h.example/1", 0L, "tiny body"))
    val s = new String(out.toByteArray, java.nio.charset.StandardCharsets.ISO_8859_1)
    // forge a multi-GB record length (and a negative one)
    for (bad <- Seq("2000000000", "-5")) {
      val forged = s.replaceFirst("Content-Length: \\d+", "Content-Length: " + bad)
      val ex = intercept[IllegalArgumentException] {
        Warc.parse(new ByteArrayInputStream(
          forged.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))).toList
      }
      assert(ex.getMessage.contains("Content-Length"), ex.getMessage)
    }
  }

  test("truncateAt stores the capped prefix with WARC-Truncated: length") {
    val dir = Files.createTempDirectory("warc_trunc").toString
    val rows = Seq(
      ("http://t.example/short", new java.sql.Timestamp(0L), 200, "text/html",
        ("x" * 50).getBytes(UTF_8)),
      ("http://t.example/long", new java.sql.Timestamp(0L), 200, "text/html",
        ("y" * 500).getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, truncateAt = 100)
    val got = spark.read.format("graft.sources.WarcSource").load(dir)
      .select($"url", length($"body").as("n"), $"truncated", $"digest")
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getString(2), r.getString(3)))).toMap
    assert(got("http://t.example/short") ==
      ((50, "", Warc.payloadDigest(("x" * 50).getBytes(UTF_8)))))
    // digest covers the STORED (truncated) payload
    assert(got("http://t.example/long") ==
      ((100, "length", Warc.payloadDigest(("y" * 100).getBytes(UTF_8)))))
    // truncated is a pushable filter column
    val df = spark.read.format("graft.sources.WarcSource").load(dir)
      .filter($"truncated" === "length")
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(df.count() == 1)
  }

  test("CDX sidecar offsets support exact random-access fetch") {
    val dir = Files.createTempDirectory("warc_cdx").toString
    val rows = (1 to 15).map(i => (s"http://x.example/q$i",
      new java.sql.Timestamp(1000L * i), 200, "text/html",
      (s"indexed $i " + ("pad " * i)).getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, cdxIndex = true)
    val cdxFiles = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".cdx"))
    assert(cdxFiles.nonEmpty)
    val idx = spark.read.json(cdxFiles.map(_.getAbsolutePath.toString): _*)
      .select($"key", $"url", $"offset", $"length", $"digest")
      .collect()
    assert(idx.length == 15)
    val conf = new org.apache.hadoop.conf.Configuration()
    idx.foreach { r =>
      val url = r.getAs[String]("url")
      val i = url.stripPrefix("http://x.example/q").toInt
      val warcFile = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).map(_.getAbsolutePath).sorted
      // offsets are intra-shard: find the record in ONE shard by ranged read
      val hit = warcFile.flatMap { f =>
        try {
          val rec = Warc.fetchRecord(f, r.getAs[Long]("offset"), r.getAs[Long]("length"), conf)
          if (rec.targetUri == url) Some(rec) else None
        } catch { case _: Exception => None }
      }
      assert(hit.nonEmpty, url)
      assert(new String(hit.head.body, UTF_8) == s"indexed $i " + ("pad " * i))
      assert(hit.head.digest == r.getAs[String]("digest"))
      assert(r.getAs[String]("key") == graft.ops.WebOps.surtKernel(url))
    }
  }

  test("filter pushdown: record_type/url predicates reach the scan and stay exact") {
    val dir = Files.createTempDirectory("warc_push").toString
    val rows = (1 to 10).map(i => (s"http://p.example/${if (i <= 5) "a" else "b"}$i",
      new java.sql.Timestamp(1000L * i), 200, "text/html",
      s"same body".getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, dedupRevisits = true) // 1 response + 9 revisits
    val df = spark.read.format("graft.sources.WarcSource").load(dir)

    val byType = df.filter($"record_type" === "revisit")
    assert(byType.queryExecution.executedPlan.toString.contains("PushedFilters"),
      byType.queryExecution.executedPlan.toString)
    assert(byType.count() == 9)
    assert(df.filter($"record_type" =!= "revisit").count() == 1) // Not() pushes too

    val byUrl = df.filter($"url".startsWith("http://p.example/a"))
    assert(byUrl.queryExecution.executedPlan.toString.contains("StringStartsWith"))
    assert(byUrl.count() == 5)

    // an unpushable predicate must still be exact (Spark keeps it)
    assert(df.filter(length($"url") % 2 === 0).count() ==
      rows.count(r => r._1.length % 2 == 0))
  }

  test("WAT export: metadata records round-trip title + ordered links") {
    import graft.extract.MetaHarvest
    val html = """<html><head><title>T &amp; U</title></head><body>
      |<a href="http://x/1">a</a><a>skip</a><a href="/two">b</a></body></html>"""
      .stripMargin
    assert(MetaHarvest.links(html) == Seq("http://x/1", "/two"))
    assert(MetaHarvest.links(null) == Nil)
    assert(MetaHarvest.links("<a href='h'>" * 7, cap = 3).length == 3)
    val dir = Files.createTempDirectory("warc_wat").toString
    val pages = Seq(("http://w.example/p1", new java.sql.Timestamp(0L), html))
      .toDF("url", "warc_ts", "html")
    Warc.writeMetadata(MetaHarvest.watFrame(pages, "url", "warc_ts", "html"), dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(MetaHarvest.WatSchema)
    val got = spark.read.format("graft.sources.WarcSource").load(dir)
      .select($"record_type", $"content_type",
        org.apache.spark.sql.functions.from_json(
          decode($"body", "UTF-8"), schema).as("w"))
      .select($"record_type", $"content_type",
        $"w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`".as("u"),
        $"w.Envelope.`Payload-Metadata`.`HTML-Metadata`.Head.Title".as("t"),
        $"w.Envelope.`Payload-Metadata`.`HTML-Metadata`.Links".as("l"))
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "metadata" && r.getString(1) == "application/json")
    assert(r.getString(2) == "http://w.example/p1" && r.getString(3) == "T & U")
    assert(r.getSeq[String](4) == Seq("http://x/1", "/two"))
  }

  test("sink + source: gzip+chunked shards round-trip through WarcSource") {
    val dir = Files.createTempDirectory("warc_coded").toString
    val rows = (1 to 20).map(i => (s"http://w.example/$i",
      new java.sql.Timestamp(1000L * i), 200, "text/html",
      (s"doc $i " + ("content " * i)).getBytes(UTF_8)))
    Warc.write(rows.toDF("url", "warc_ts", "http_status", "content_type", "body"),
      dir, contentEncoding = "gzip", chunked = true)
    val got = spark.read.format("graft.sources.WarcSource").load(dir)
      .select($"url", decode($"body", "UTF-8").as("t")).as[(String, String)]
      .collect().toMap
    assert(got.size == 20)
    (1 to 20).foreach(i =>
      assert(got(s"http://w.example/$i") == s"doc $i " + ("content " * i)))
  }

  test("deflate: a complete zlib stream with empty output is an empty body, not null") {
    val empty = Streams.deflate(Array.emptyByteArray)
    assert(empty.toSeq == Seq(0x78, 0x9c, 0x03, 0x00, 0x00, 0x00, 0x00, 0x01).map(_.toByte))
    val body = Warc.contentDecode("deflate", empty)
    assert(body != null && body.isEmpty)
    val raw = Warc.contentDecode("deflate", StreamsSpec.rawDeflate(Array.emptyByteArray))
    assert(raw != null && raw.isEmpty)
  }
}
