package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.codec.Streams

/** One parsed WARC record. For `response` records carrying an
  * `application/http` block, [[httpStatus]]/[[contentType]]/[[body]] are
  * the parsed HTTP pieces; for every other record type the raw content
  * block is the body and httpStatus is 0. */
case class WarcRecord(
    recordType: String,
    targetUri: String,
    date: Instant,
    recordId: String,
    httpStatus: Int,
    contentType: String,
    body: Array[Byte],
    digest: String = "",   // WARC-Payload-Digest (sha1:BASE32, the CC convention)
    refersTo: String = "", // WARC-Refers-To-Target-URI (revisit records)
    truncated: String = "") // WARC-Truncated reason ("" = complete; CC uses "length")

/** From-scratch WARC 1.0 codec + distributed sink (ISO 28500 / the
  * published WARC 1.0 spec; the format Common Crawl ships in). No
  * external parser library — records are length-delimited by their
  * `Content-Length` header, so both directions are simple and exact:
  *
  *  - '''writer''': each record is one gzip member (the Common Crawl
  *    convention — members concatenate into one `.warc.gz` file and a
  *    range request can decompress a single record), containing the WARC
  *    header block, an `application/http; msgtype=response` envelope,
  *    and the payload bytes.
  *  - '''parser''': streaming — reads one header block, then exactly
  *    `Content-Length` bytes, never materializing more than one record;
  *    `java.util.zip.GZIPInputStream` walks concatenated members
  *    natively.
  *  - '''sink''' ([[Warc.write]]): `df.foreachPartition` writes one
  *    `part-NNNNN.warc.gz` per non-empty partition through the Hadoop
  *    filesystem API (file://, hdfs://, ...) — fully distributed, no
  *    driver collect; tasks write to a temp name and rename, so a
  *    retried/speculative attempt never leaves a torn file.
  *
  * Gzip members are not splittable, so the parallelism unit is the FILE
  * — exactly how Common Crawl shards its corpus (~1 GB `.warc.gz`
  * segments, tens of thousands of files per crawl): at 100 TB the
  * per-file [[WarcSource]] partitions keep every executor busy without
  * any splitting machinery. */
object Warc {

  /** Per-record allocation ceiling for [[parse]] (the conventional WARC
    * record cap; Common Crawl truncates far below this). */
  val MaxRecordBytes: Int = 1 << 30

  private val Crlf = "\r\n".getBytes(US_ASCII)

  private def headerBytes(lines: Seq[String]): Array[Byte] =
    (lines.mkString("\r\n") + "\r\n\r\n").getBytes(UTF_8)

  /** RFC 4648 base32 (no padding needed: SHA-1's 160 bits divide evenly
    * into 32 five-bit groups) — the alphabet WARC payload digests use. */
  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
  private def base32(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 8 / 5 + 1)
    var acc = 0L
    var nbits = 0
    bytes.foreach { b =>
      acc = (acc << 8) | (b & 0xff)
      nbits += 8
      while (nbits >= 5) {
        nbits -= 5
        sb.append(B32(((acc >> nbits) & 31).toInt))
      }
    }
    if (nbits > 0) sb.append(B32(((acc << (5 - nbits)) & 31).toInt))
    sb.toString
  }

  /** `sha1:BASE32` payload digest — the exact form Common Crawl stamps
    * in WARC-Payload-Digest headers and its CDX index. */
  def payloadDigest(body: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    "sha1:" + base32(md.digest(body))
  }

  // ------------------------------------- HTTP transfer / content codings
  //
  // Real crawl WARCs store the HTTP response bytes as sent: bodies
  // arrive chunked (RFC 9112 §7.1) and/or compressed (RFC 9110 §8.4.1
  // Content-Encoding: gzip / deflate — including the bare-deflate form
  // servers mislabel). A reader that hands those bytes to the HTML
  // parser sees framing garbage, so [[parse]] reverses both codings
  // transparently; the encode side exists so the sink can produce
  // wire-faithful shards and the loop stays closed without external data.

  /** Chunked transfer coding, encode side: fixed-size chunks, a chunk
    * extension on the first size line and a trailer field after the
    * last chunk — both legal noise a correct decoder must skip. */
  def chunkEncode(data: Array[Byte], chunkSize: Int): Array[Byte] = {
    require(chunkSize > 0, "chunkSize must be positive")
    val out = new ByteArrayOutputStream(data.length + 64)
    var off = 0
    var first = true
    while (off < data.length) {
      val n = math.min(chunkSize, data.length - off)
      val ext = if (first) ";x=crawl" else ""
      out.write((n.toHexString + ext + "\r\n").getBytes(US_ASCII))
      out.write(data, off, n)
      out.write(Crlf)
      off += n
      first = false
    }
    out.write("0\r\nX-Crawl-Trailer: end\r\n\r\n".getBytes(US_ASCII))
    out.toByteArray
  }

  /** Chunked transfer coding, decode side. Returns null on structural
    * damage (bad size line, truncated chunk) — the caller keeps the raw
    * bytes, because a crawl archive full of torn responses must degrade
    * row-by-row, never fail the shard. */
  def chunkDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i < data.length && data(i) != '\n') i += 1
      if (i >= data.length) return null
      val end = if (i > start && data(i - 1) == '\r') i - 1 else i
      i += 1
      new String(data, start, end - start, US_ASCII)
    }
    while (true) {
      val l = line()
      if (l == null) return null
      val semi = l.indexOf(';')
      val hexs = (if (semi >= 0) l.substring(0, semi) else l).trim
      val n =
        try Integer.parseInt(hexs, 16)
        catch { case _: NumberFormatException => return null }
      if (n < 0) return null
      if (n == 0) {
        var t = line() // trailer section: fields until a blank line / EOF
        while (t != null && t.nonEmpty) t = line()
        return out.toByteArray
      }
      if (i + n > data.length) return null
      out.write(data, i, n)
      i += n
      if (i < data.length && data(i) == '\r') i += 1
      if (i < data.length && data(i) == '\n') i += 1
    }
    null // unreachable
  }

  /** `in` to its end, or null once it passes the per-stream decode ceiling. */
  private def readAll(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 12)
    val buf = new Array[Byte](1 << 12)
    var k = in.read(buf)
    while (k >= 0) {
      if (out.size() + k > Streams.MaxDecodedBytes) return null
      out.write(buf, 0, k); k = in.read(buf)
    }
    out.toByteArray
  }

  def gzipEncode(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  /** Deflate encode; `zlibWrapper = false` is the bare-deflate form. */
  def deflateEncode(data: Array[Byte], zlibWrapper: Boolean = true): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, !zlibWrapper)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](1 << 12)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Content-Encoding decode: gzip / x-gzip, deflate (zlib-wrapped AND
    * the bare form servers mislabel as "deflate"), identity. Unknown
    * coding, damaged data or a body that decodes past the per-stream
    * ceiling (Streams.MaxDecodedBytes: a decompression bomb) → null
    * (caller keeps the raw bytes). Deflate goes through the one Flate
    * kernel, zlib first, then bare; a zlib header asking for a preset
    * dictionary is damaged data (none is ever known). */
  def contentDecode(enc: String, data: Array[Byte]): Array[Byte] = {
    val e = enc.trim.toLowerCase
    try e match {
      case "" | "identity" | "none" => data
      case "gzip" | "x-gzip" =>
        readAll(new GZIPInputStream(new java.io.ByteArrayInputStream(data)))
      case "deflate" =>
        Streams.inflate(data) match {
          case Right(out) => out
          case Left(Streams.Stop.TooLarge) => null
          case Left(_) => Streams.inflate(data, nowrap = true).getOrElse(null)
        }
      case _ => null
    } catch { case _: Exception => null }
  }

  /** Serialize one record (uncompressed) to `out`. With `envelope` the
    * block is an `application/http; msgtype=response` wrapper around the
    * body (raw-crawl records); without it the body IS the block under
    * the record's own content type (WET-style `conversion` records). */
  def writeRecord(out: OutputStream, r: WarcRecord, envelope: Boolean = true,
      contentEncoding: String = "", chunked: Boolean = false,
      chunkSize: Int = 512): Unit = {
    // wire-faithful body: Content-Encoding first, then transfer chunking
    // (the order a server applies them; the reader reverses it)
    val encoded0 = contentEncoding match {
      case ""        => r.body
      case "gzip"    => gzipEncode(r.body)
      case "deflate" => deflateEncode(r.body)
      case other     => throw new IllegalArgumentException(s"unsupported coding: $other")
    }
    val wire = if (chunked) chunkEncode(encoded0, chunkSize) else encoded0
    val http =
      if (envelope) headerBytes(Seq(
        s"HTTP/1.1 ${r.httpStatus} OK",
        s"Content-Type: ${r.contentType}") ++
        (if (contentEncoding.nonEmpty) Seq(s"Content-Encoding: $contentEncoding") else Nil) ++
        (if (chunked) Seq("Transfer-Encoding: chunked")
         else Seq(s"Content-Length: ${wire.length}")))
      else Array.empty[Byte]
    val blockType = if (envelope) "application/http; msgtype=response" else r.contentType
    val body = if (envelope) wire else r.body // codings only exist inside an HTTP envelope
    val contentLength = http.length + body.length
    // payload digest: as given for bodiless revisit records, computed
    // over the DECODED payload otherwise (the spec's and CC's semantics)
    val digest =
      if (r.digest.nonEmpty) r.digest
      else if (r.body.nonEmpty) payloadDigest(r.body)
      else ""
    val warc = headerBytes(Seq(
      "WARC/1.0",
      s"WARC-Type: ${r.recordType}",
      s"WARC-Record-ID: ${r.recordId}",
      s"WARC-Date: ${DateTimeFormatter.ISO_INSTANT.format(r.date)}",
      s"WARC-Target-URI: ${r.targetUri}") ++
      (if (digest.nonEmpty) Seq(s"WARC-Payload-Digest: $digest") else Nil) ++
      (if (r.refersTo.nonEmpty) Seq(s"WARC-Refers-To-Target-URI: ${r.refersTo}",
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")
       else Nil) ++
      (if (r.truncated.nonEmpty) Seq(s"WARC-Truncated: ${r.truncated}") else Nil) ++
      (if (blockType.nonEmpty) Seq(s"Content-Type: $blockType") else Nil) ++
      Seq(s"Content-Length: $contentLength"))
    out.write(warc)
    out.write(http)
    out.write(body)
    out.write(Crlf)
    out.write(Crlf)
  }

  /** One gzip member per record (the Common Crawl `.warc.gz` layout).
    * `finish()` flushes the member's trailer without closing the
    * underlying stream, so members concatenate back-to-back. */
  def writeGzipMember(out: OutputStream, r: WarcRecord, envelope: Boolean = true,
      contentEncoding: String = "", chunked: Boolean = false): Unit = {
    // BEST_SPEED: archive shards are written once and read many times
    // through the same streaming path regardless of level; level 1 is
    // ~3-4x cheaper on the write-side CPU (the sink's only hot loop) for
    // a few percent of size — the right trade for a data-production sink
    // (any level is standard gzip; readers cannot tell)
    val gz = new GZIPOutputStream(out, 8192) {
      `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
    }
    writeRecord(gz, r, envelope, contentEncoding, chunked)
    gz.finish()
  }

  // -------------------------------------------------------------- parse

  /** Read one CRLF-terminated line as a string (header lines are ASCII
    * per spec; UTF-8 decoding covers extended URIs). Returns null at
    * EOF before any byte. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, n, UTF_8)
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(out, off, n - off)
      if (k < 0) throw new EOFException(s"warc record truncated: expected $n bytes, got $off")
      off += k
    }
    out
  }

  private def indexOfDoubleCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** Streaming record iterator over an (already-decompressed) WARC
    * stream. Strict on structure (a missing Content-Length is an error,
    * not a skip — a crawl archive that parses wrong should fail loudly),
    * tolerant on inter-record padding (blank lines between records). */
  def parse(in: InputStream): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var nextRec: WarcRecord = null
    private var done = false

    private def advance(): Unit = {
      var line = readLine(in)
      while (line != null && line.isEmpty) line = readLine(in)
      if (line == null) { done = true; return }
      if (!line.startsWith("WARC/"))
        throw new IllegalArgumentException(s"expected WARC version line, got: $line")
      val headers = scala.collection.mutable.Map.empty[String, String]
      var h = readLine(in)
      while (h != null && h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) headers(h.substring(0, i).trim.toLowerCase) = h.substring(i + 1).trim
        h = readLine(in)
      }
      val len = headers.getOrElse("content-length",
        throw new IllegalArgumentException("warc record missing Content-Length")).toInt
      // allocation guard: a corrupt (or hostile) length digit must fail
      // loudly as a parse error, not as a multi-GB array OOM that takes
      // the executor down — 1 GiB is the conventional WARC record ceiling
      if (len < 0 || len > Warc.MaxRecordBytes)
        throw new IllegalArgumentException(
          s"warc record Content-Length $len outside [0, ${Warc.MaxRecordBytes}]")
      val block = readFully(in, len)
      val recordType = headers.getOrElse("warc-type", "")
      val uri = headers.getOrElse("warc-target-uri", "")
      val date = headers.get("warc-date").map(Instant.parse).getOrElse(Instant.EPOCH)
      val id = headers.getOrElse("warc-record-id", "")
      val blockType = headers.getOrElse("content-type", "")
      val wDigest = headers.getOrElse("warc-payload-digest", "")
      val wRefers = headers.getOrElse("warc-refers-to-target-uri", "")
      val wTrunc = headers.getOrElse("warc-truncated", "")
      nextRec =
        if (blockType.startsWith("application/http")) {
          val sep = indexOfDoubleCrlf(block)
          if (sep < 0) WarcRecord(recordType, uri, date, id, 0, blockType, block, wDigest, wRefers, wTrunc)
          else {
            val env = new String(block, 0, sep, UTF_8).split("\r\n")
            val status = env.headOption.map(_.split(" "))
              .filter(_.length >= 2).flatMap(p => p(1).toIntOption).getOrElse(0)
            val ct = env.drop(1).find(_.toLowerCase.startsWith("content-type:"))
              .map(_.substring("content-type:".length).trim).getOrElse("")
            def hdr(name: String): String = env.drop(1)
              .find(_.toLowerCase.startsWith(name + ":"))
              .map(_.substring(name.length + 1).trim.toLowerCase).getOrElse("")
            val raw = java.util.Arrays.copyOfRange(block, sep + 4, block.length)
            // reverse the wire codings (chunked framing, then content
            // coding); either failing degrades to the raw bytes — one
            // torn response must not fail the shard
            val deChunked =
              if (hdr("transfer-encoding").contains("chunked"))
                Option(chunkDecode(raw)).getOrElse(raw)
              else raw
            val ce = hdr("content-encoding")
            val body =
              if (ce.nonEmpty) Option(contentDecode(ce, deChunked)).getOrElse(deChunked)
              else deChunked
            WarcRecord(recordType, uri, date, id, status, ct, body, wDigest, wRefers, wTrunc)
          }
        } else WarcRecord(recordType, uri, date, id, 0, blockType, block, wDigest, wRefers, wTrunc)
    }

    override def hasNext: Boolean = {
      if (nextRec == null && !done) advance()
      nextRec != null
    }
    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRec; nextRec = null; r
    }
  }

  /** Open a WARC file (gzip-sniffed by extension) as a record iterator. */
  def open(file: String, conf: Configuration): Iterator[WarcRecord] = {
    val p = new Path(file)
    val raw = p.getFileSystem(conf).open(p)
    val in: InputStream =
      if (file.endsWith(".gz")) new GZIPInputStream(new BufferedInputStream(raw, 1 << 16), 1 << 16)
      else new BufferedInputStream(raw, 1 << 16)
    parse(in)
  }

  // --------------------------------------------------------------- sink

  /** Distributed WARC sink: expects columns (url string, warc_ts
    * timestamp, http_status int, content_type string, body binary) and
    * writes one `part-NNNNN.warc.gz` per non-empty partition of `df`.
    * Record IDs are deterministic (`urn:graft:<url>`), so identical
    * input produces byte-identical records regardless of where each row
    * lands. Write-then-rename makes task retries safe.
    *
    * Two record modes: the default `response` mode wraps each body in an
    * `application/http` envelope (the raw-crawl WARC layout);
    * [[writeConversion]] writes envelope-free `conversion` records — the
    * Common-Crawl WET layout, the standard interchange shape for
    * EXTRACTED text — so the full CC round lives in this one module:
    * read `.warc.gz`, extract, publish `.wet`-style shards. */
  def write(df: DataFrame, dir: String, overwrite: Boolean = true,
      contentEncoding: String = "", chunked: Boolean = false,
      cdxIndex: Boolean = false, dedupRevisits: Boolean = false,
      truncateAt: Int = 0): Unit =
    writeRecords(df, dir, overwrite, envelope = true, recordType = "response",
      contentEncoding, chunked, cdxIndex, dedupRevisits, truncateAt)

  /** WET-style export: `conversion` records, body bytes as the record
    * block (no HTTP envelope), content type taken from the row. Expects
    * the same columns as [[write]] (http_status is ignored). */
  def writeConversion(df: DataFrame, dir: String, overwrite: Boolean = true): Unit =
    writeRecords(df, dir, overwrite, envelope = false, recordType = "conversion")

  /** WAT-style export: `metadata` records (the third Common Crawl
    * artifact beside .warc response and .wet conversion shards) —
    * envelope-free JSON blocks, typically built by
    * [[graft.extract.MetaHarvest.watFrame]]. Same columns as [[write]]. */
  def writeMetadata(df: DataFrame, dir: String, overwrite: Boolean = true): Unit =
    writeRecords(df, dir, overwrite, envelope = false, recordType = "metadata")

  private final class CountingOutputStream(under: OutputStream) extends OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { under.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); count += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private def writeRecords(df: DataFrame, dir: String, overwrite: Boolean,
      envelope: Boolean, recordType: String,
      contentEncoding: String = "", chunked: Boolean = false,
      cdxIndex: Boolean = false, dedupRevisits: Boolean = false,
      truncateAt: Int = 0): Unit = {
    val sel0 = df.select(col("url").cast("string"), col("warc_ts").cast("timestamp"),
      col("http_status").cast("int"), col("content_type").cast("string"),
      col("body").cast("binary"))
    // revisit dedup needs every copy of a payload in ONE partition with a
    // deterministic original: co-locate by body hash, order by url — the
    // lexicographically-first url per digest becomes the response record
    // everywhere, regardless of cluster size
    val sel =
      if (dedupRevisits)
        sel0.repartition(col("body")).sortWithinPartitions(col("body"), col("url"))
      else sel0
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (overwrite && fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    sel.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        val fin = new Path(dir, f"part-$pid%05d.warc.gz")
        val tmp = new Path(dir, f".part-$pid%05d-${tc.taskAttemptId()}.tmp")
        val ofs = tmp.getFileSystem(new Configuration())
        val os = new CountingOutputStream(ofs.create(tmp, true))
        val cdx = if (cdxIndex) new StringBuilder else null
        val seen = scala.collection.mutable.HashMap.empty[String, String]
        try {
          it.foreach { r =>
            val ts = r.getTimestamp(1)
            val url = r.getString(0)
            val full = r.getAs[Array[Byte]](4)
            // the CC convention: bodies over the cap are stored truncated
            // with WARC-Truncated: length; the digest covers the STORED
            // (truncated) payload, so index-vs-shard digests stay equal
            val (body, trunc) =
              if (truncateAt > 0 && full.length > truncateAt)
                (java.util.Arrays.copyOfRange(full, 0, truncateAt), "length")
              else (full, "")
            val digest = payloadDigest(body)
            val original = if (dedupRevisits) seen.get(digest) else None
            val rec = original match {
              case Some(orig) => WarcRecord( // duplicate payload → revisit
                recordType = "revisit", targetUri = url,
                date = Instant.ofEpochMilli(ts.getTime).plusNanos(ts.getNanos % 1000000L),
                recordId = s"<urn:graft:$url>", httpStatus = 0, contentType = "",
                body = Array.emptyByteArray, digest = digest, refersTo = orig)
              case None =>
                if (dedupRevisits) seen(digest) = url
                WarcRecord(
                  recordType = recordType, targetUri = url,
                  date = Instant.ofEpochMilli(ts.getTime).plusNanos(ts.getNanos % 1000000L),
                  recordId = s"<urn:graft:$url>", httpStatus = r.getInt(2),
                  contentType = r.getString(3), body = body, truncated = trunc)
            }
            val offset = os.count
            writeGzipMember(os, rec, envelope && rec.recordType != "revisit",
              contentEncoding, chunked)
            if (cdx != null) {
              val ms = ts.getTime
              cdx.append("{\"key\":\"").append(jsonEsc(graft.ops.WebOps.surtKernel(url)))
                .append("\",\"url\":\"").append(jsonEsc(url))
                .append("\",\"ts_ms\":").append(ms)
                .append(",\"file\":\"").append(fin.getName)
                .append("\",\"offset\":").append(offset)
                .append(",\"length\":").append(os.count - offset)
                .append(",\"digest\":\"").append(digest)
                .append("\",\"record_type\":\"").append(rec.recordType)
                .append("\"}\n")
            }
          }
        } finally os.close()
        // first attempt wins; a losing speculative attempt cleans up
        if (!ofs.rename(tmp, fin)) { ofs.delete(tmp, false); () }
        else if (cdx != null) {
          // the sidecar index: one .cdx (JSONL) per shard, offsets into
          // the OWN shard's gzip members — written after the shard wins
          // its rename so an index row never points at a torn file
          val cdxTmp = new Path(dir, f".part-$pid%05d-${tc.taskAttemptId()}.cdxtmp")
          val cs = ofs.create(cdxTmp, true)
          try cs.write(cdx.toString.getBytes(UTF_8)) finally cs.close()
          val cdxFin = new Path(dir, f"part-$pid%05d.cdx")
          if (!ofs.rename(cdxTmp, cdxFin)) { ofs.delete(cdxTmp, false); () }
        }
      }
    }
  }

  // -------------------------------------------------- random access + dedup

  /** Widest plausible gzip member for one record: the content cap plus
    * headroom for WARC + HTTP headers and gzip framing. A `.cdx` sidecar
    * is as forgeable as a WARC header, so every (offset, length) read
    * from one is validated against this before a single byte is
    * allocated — same loud failure contract as [[parse]]. */
  val MaxMemberBytes: Long = MaxRecordBytes.toLong + (1L << 16)

  private def checkCdxRange(file: String, offset: Long, length: Long): Unit =
    if (offset < 0 || length < 0 || length > MaxMemberBytes)
      throw new IllegalArgumentException(
        s"cdx entry $file:$offset+$length outside [0, $MaxMemberBytes]")

  /** Random-access fetch of ONE record by its CDX (offset, length) — the
    * reason the writer emits one gzip member per record: a 100 TB crawl
    * answers point lookups with a single ranged read instead of a shard
    * scan (exactly how the Common Crawl index is used). */
  def fetchRecord(file: String, offset: Long, length: Long,
      conf: Configuration): WarcRecord = {
    checkCdxRange(file, offset, length)
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(offset)
      val buf = new Array[Byte](length.toInt)
      in.readFully(buf)
      val it = parse(new GZIPInputStream(new java.io.ByteArrayInputStream(buf)))
      if (!it.hasNext) throw new EOFException(s"no record at $file:$offset+$length")
      it.next()
    } finally in.close()
  }

  /** Batch point-lookups driven by a CDX index frame (columns file,
    * offset, length): co-locates lookups by shard and walks each shard's
    * members in offset order — at crawl scale this turns N random reads
    * into one forward-seeking pass per touched shard, the access pattern
    * object stores and spinning disks both want. */
  def fetchByIndex(idx: DataFrame, dir: String): DataFrame = {
    val spark = idx.sparkSession
    import spark.implicits._
    idx.select(col("file").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .repartition(col("file")).sortWithinPartitions(col("file"), col("offset"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val conf = new Configuration()
        // one open stream per shard, reused across the offset-sorted run
        var curFile: String = null
        var curIn: org.apache.hadoop.fs.FSDataInputStream = null
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          if (curIn != null) curIn.close()
        })
        it.map { case (f, off, len) =>
          checkCdxRange(f, off, len)
          if (f != curFile) {
            if (curIn != null) curIn.close()
            val p = new Path(dir + "/" + f)
            curIn = p.getFileSystem(conf).open(p)
            curFile = f
          }
          curIn.seek(off)
          val buf = new Array[Byte](len.toInt)
          curIn.readFully(buf)
          val pit = parse(new GZIPInputStream(new java.io.ByteArrayInputStream(buf)))
          if (!pit.hasNext) throw new EOFException(s"no record at $f:$off+$len")
          val r = pit.next()
          (r.targetUri, r.httpStatus, r.digest, r.body)
        }
      }.toDF("url", "http_status", "digest", "body")
  }

  /** Resolve revisit records against their originals: every row comes
    * back with its payload, `was_revisit` marking restored duplicates.
    * Scale shape: the join keys on the 37-byte digest; bodies ride the
    * (deduplicated) response side exactly once — the minimal wire for a
    * payload-restoring join. Expects the [[WarcSource]] schema. */
  def resolveRevisits(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val resp = df.filter(col("record_type") =!= "revisit")
    // one deterministic body per digest (identical payloads by
    // construction; row_number keeps status/content_type stable too)
    val w = Window.partitionBy(col("digest")).orderBy(col("url"))
    val bodies = resp
      .select(col("digest"), col("url"), col("http_status"), col("content_type"), col("body"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val rev = df.filter(col("record_type") === "revisit")
      .select(col("url").as("r_url"), col("warc_ts"), col("digest"), col("refers_to"))
    // LEFT join: real crawls contain cross-segment/cross-crawl revisits
    // whose original lives in a shard that was not loaded — those must
    // surface (empty body, status 0) rather than silently vanish.
    val restored = rev.join(bodies.withColumnRenamed("url", "orig_url"), Seq("digest"), "left")
      .select(col("r_url").as("url"), col("warc_ts"),
        org.apache.spark.sql.functions.coalesce(col("http_status"),
          org.apache.spark.sql.functions.lit(0)).as("http_status"),
        org.apache.spark.sql.functions.coalesce(col("content_type"),
          org.apache.spark.sql.functions.lit("")).as("content_type"),
        org.apache.spark.sql.functions.coalesce(col("body"),
          org.apache.spark.sql.functions.lit(Array.emptyByteArray)).as("body"),
        org.apache.spark.sql.functions.lit(true).as("was_revisit"),
        col("refers_to"))
    resp.select(col("url"), col("warc_ts"), col("http_status"), col("content_type"),
        col("body"), org.apache.spark.sql.functions.lit(false).as("was_revisit"),
        org.apache.spark.sql.functions.lit("").as("refers_to"))
      .unionByName(restored)
  }
}
