package graft

import java.util.zip.Inflater

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Gif, Jpeg, Png, Streams, Tiff}
import graft.pdf.{PdfParser, PdfWriter}
import graft.sources.Warc

/** Differential oracles for the shared byte-stream kernels, in both
  * directions ([[Streams.inflate]], [[Streams.inflateExactly]],
  * [[Streams.lzw]], [[Streams.lzwExactly]], [[Streams.deflate]],
  * [[Streams.lzwEncode]]). The loops they replaced live on here as
  * references: four zlib inflates, three LZW decoders (PDF, TIFF and
  * GIF's, the last inside the old GIF frame decoders), the Deflater loops
  * of PNG, TIFF, WARC and the PDF writer, and the three LZW encoders
  * (GIF, TIFF, PDF). Each format's adapter must return their exact bytes
  * and error strings over random and mutated streams.
  *
  * Allowed differences, each pinned where it is allowed:
  *  - a zlib header asking for a preset dictionary (FDICT) made the PNG
  *    and TIFF loops spin. The references carry an iteration guard so
  *    this spec ends, and on exactly those inputs the adapters must report
  *    their "truncated" error instead;
  *  - the old PDF and WARC loops read a complete stream with empty output
  *    as truncated; the adapters decode it as empty;
  *  - the old PDF and GIF encoders wrote the end code one bit too narrow
  *    when the table size sat on the decoder's width bump, and they
  *    cleared the table later than TIFF does. The new bytes differ from
  *    theirs only on such inputs, and always decode strictly. */
class StreamsSpec extends AnyFunSuite {
  import StreamsSpec.rawDeflate

  private type Result = Either[String, Array[Byte]]

  private def same(a: Result, b: Result): Boolean = (a, b) match {
    case (Right(x), Right(y)) => java.util.Arrays.equals(x, y)
    case _                    => a == b
  }

  private def show(r: Result): String = r.fold(identity, b => s"${b.length} bytes")

  private def tiffLzw(raw: Array[Byte]): Array[Byte] = Streams.lzwEncode(raw, earlyChange = 1)

  private def pdfResult(f: => Array[Byte]): Result =
    try Right(f) catch { case PdfParser.PdfError(m) => Left(m) }

  // ------------------------------------------------ references: the old loops

  /** A reference loop that made no progress this many calls in a row was
    * spinning (the only way the old loops could fail to end). */
  private val Guard = 1000
  private val Spin = "spin"

  /** `Png.decode`'s IDAT loop. */
  private def refPngInflate(idat: Array[Byte], rawLen: Int): Result = {
    val raw = new Array[Byte](rawLen)
    val inf = new Inflater()
    try {
      inf.setInput(idat)
      var got = 0
      var idle = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return Left("png: truncated IDAT")
        idle = if (n == 0) idle + 1 else 0
        if (idle > Guard) return Left(Spin)
        got += n
      }
      if (got < raw.length) Left("png: short pixel data") else Right(raw)
    } catch {
      case e: Exception => Left(s"png: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally inf.end()
  }

  /** `Tiff.decompressChunk`'s compression 8 loop. */
  private def refTiffInflate(data: Array[Byte], expected: Int): Result =
    if (expected < 0 || expected > (1 << 28)) Left("tiff: deflate output too large")
    else try {
      val out = new Array[Byte](expected)
      val inf = new Inflater()
      inf.setInput(data)
      var got = 0
      var idle = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(out, got, expected - got)
        if (n == 0 && inf.needsInput()) { inf.end(); return Left("tiff: deflate truncated") }
        idle = if (n == 0) idle + 1 else 0
        if (idle > Guard) { inf.end(); return Left(Spin) }
        got += n
      }
      inf.end()
      if (got < expected) Left("tiff: deflate output short") else Right(out)
    } catch { case e: Exception => Left(s"tiff: deflate: ${e.getMessage}") }

  /** `PdfParser.inflate`. */
  private def refPdfInflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0) {
          if (inf.needsInput() || inf.needsDictionary()) throw PdfParser.PdfError("pdf_flate_truncated")
        } else {
          if (out.size() + k > (256 << 20)) throw PdfParser.PdfError("pdf_stream_too_large")
          out.write(buf, 0, k)
        }
      }
    } catch {
      case _: java.util.zip.DataFormatException => throw PdfParser.PdfError("pdf_flate_corrupt")
    } finally inf.end()
    out.toByteArray
  }

  /** `Warc.contentDecode("deflate", _)`: zlib, then bare; null on failure. */
  private def refWarcDeflate(data: Array[Byte]): Array[Byte] = {
    def inflateWith(nowrap: Boolean): Array[Byte] = {
      val inf = new Inflater(nowrap)
      try {
        inf.setInput(data)
        val out = new java.io.ByteArrayOutputStream(data.length * 2 + 64)
        val buf = new Array[Byte](1 << 12)
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          if (k == 0 && (inf.needsInput() || inf.needsDictionary())) throw new java.io.EOFException("deflate truncated")
          if (out.size() + k > (256 << 20)) return null
          out.write(buf, 0, k)
        }
        out.toByteArray
      } finally inf.end()
    }
    try {
      try inflateWith(nowrap = false)
      catch { case _: Exception => inflateWith(nowrap = true) }
    } catch { case _: Exception => null }
  }

  /** `PdfParser.lzw`: table of byte arrays, missing EOD tolerated. */
  private def refPdfLzw(data: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 3)
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var stop = false
    while (!stop) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xff)
        bitCnt += 8
        pos += 1
      }
      if (bitCnt < width) stop = true
      else {
        val code = ((bitBuf >>> (bitCnt - width)) & ((1 << width) - 1)).toInt
        bitCnt -= width
        if (code == 256) { next = 258; width = 9; prev = null }
        else if (code == 257) stop = true
        else {
          val entry: Array[Byte] =
            if (code < 256 || (code >= 258 && code < next && table(code) != null)) table(code)
            else if (code == next && prev != null) prev :+ prev(0)
            else throw PdfParser.PdfError("pdf_lzw_bad_code")
          if (prev != null && next < 4096) {
            table(next) = prev :+ entry(0)
            next += 1
            if (next + earlyChange >= (1 << width) && width < 12) width += 1
          }
          if (out.size() + entry.length > (256 << 20)) throw PdfParser.PdfError("pdf_stream_too_large")
          out.write(entry, 0, entry.length)
          prev = entry
        }
      }
    }
    out.toByteArray
  }

  /** `Tiff.Lzw.decode`: prefix/suffix table, end code required. */
  private def refTiffLzw(data: Array[Byte], expected: Int): Result = {
    if (expected < 0 || expected > (1 << 28)) return Left("tiff: lzw output too large")
    val out = new Array[Byte](expected)
    var outPos = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var width = 9
    var acc = 0L; var nBits = 0; var p = 0
    var old = -1
    val stack = new Array[Byte](4096)
    def readCode(): Int = {
      while (nBits < width) {
        if (p >= data.length) return -1
        acc = (acc << 8) | (data(p) & 0xff); p += 1; nBits += 8
      }
      nBits -= width
      ((acc >>> nBits) & ((1 << width) - 1)).toInt
    }
    while (true) {
      val code = readCode()
      if (code < 0) return Left("tiff: lzw stream truncated")
      if (code == 257) {
        if (outPos < expected) return Left("tiff: lzw output short")
        return Right(out)
      }
      if (code == 256) {
        next = 258; width = 9; old = -1
      } else if (old < 0) {
        if (code > 255) return Left("tiff: lzw bad first code")
        if (outPos >= expected) return Left("tiff: lzw output overrun")
        out(outPos) = code.toByte; outPos += 1
        old = code
      } else {
        if (code > next) return Left("tiff: lzw code out of range")
        var sp = 0
        var c = code
        if (code == next) { c = old; stack(sp) = 0; sp += 1 }
        while (c > 255) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        val first = c.toByte
        if (code == next) stack(0) = first
        if (outPos + sp + 1 > expected) return Left("tiff: lzw output overrun")
        out(outPos) = first; outPos += 1
        var i = sp - 1
        while (i >= 0) { out(outPos) = stack(i); outPos += 1; i -= 1 }
        if (next < 4096) { prefix(next) = old; suffix(next) = first; next += 1 }
        old = code
      }
      if (code != 256 && next == (1 << width) - 1 && width < 12) width += 1
    }
    Left("tiff: unreachable")
  }

  /** The Deflater loops of `Png.encode` and `Png.assemble` (8 KiB
    * buffer), `Tiff.compressChunk` and `Warc.deflateEncode` (4 KiB) and
    * `PdfWriter.deflate` (2n + 64 bytes): the default level, one
    * setInput/finish; they differed only in the buffer size. */
  private def refDeflate(raw: Array[Byte], nowrap: Boolean, buf: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val b = new Array[Byte](buf)
    while (!d.finished()) out.write(b, 0, d.deflate(b))
    d.end()
    out.toByteArray
  }

  /** `Png.encode`'s own chunk writer: IHDR, one IDAT of filter-0 rows
    * through its Deflater loop, IEND. */
  private def refPngEncode(pix: Array[Byte], w: Int, h: Int, nc: Int): Array[Byte] = {
    val raw = new Array[Byte]((w * nc + 1) * h)
    for (y <- 0 until h) System.arraycopy(pix, y * w * nc, raw, y * (w * nc + 1) + 1, w * nc)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val td = typ.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32(); crc.update(td)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(td)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h).put(8.toByte)
      .put((if (nc == 1) 0 else 2).toByte).array())
    chunk("IDAT", refDeflate(raw, nowrap = false, 8192))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** `Tiff.Lzw.encode`: boxed HashMap table, cleared at 4094 entries, the
    * end-code fencepost. */
  private def refTiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var acc = 0L; var nBits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nBits += width
      while (nBits >= 8) { out.write(((acc >>> (nBits - 8)) & 0xff).toInt); nBits -= 8 }
    }
    var table = new java.util.HashMap[Integer, Integer]()
    var next = 258
    put(Clear)
    var cur = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (cur < 0) cur = b
      else {
        val key = (cur << 8) | b
        val hit = table.get(key)
        if (hit != null) cur = hit
        else {
          put(cur)
          table.put(key, next)
          next += 1
          if (next == (1 << width) && width < 12) width += 1
          if (next >= 4094) {
            put(Clear)
            table = new java.util.HashMap[Integer, Integer]()
            next = 258
            width = 9
          }
          cur = b
        }
      }
      i += 1
    }
    if (cur >= 0) put(cur)
    if (next == (1 << width) - 1 && width < 12) width += 1
    put(Eoi)
    if (nBits > 0) out.write(((acc << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** `PdfWriter.lzwEncode`: LongMap table, cleared one add after 4094
    * entries, no end-code fencepost. */
  private def refPdfLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    var next = 258
    val table = scala.collection.mutable.LongMap.empty[Int]
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    def bumpWidth(): Unit = if (next >= (1 << width) && width < 12) width += 1
    put(256)
    var prefix = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (prefix < 0) prefix = b
      else {
        val key = (prefix.toLong << 8) | b
        val hit = table.getOrElse(key, -1)
        if (hit >= 0) prefix = hit
        else {
          put(prefix)
          if (next < 4095) {
            table.update(key, next)
            next += 1
            bumpWidth()
          } else {
            put(256)
            table.clear()
            next = 258
            width = 9
          }
          prefix = b
        }
      }
      i += 1
    }
    if (prefix >= 0) put(prefix)
    put(257)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** `Gif.writeLzwBlocks`'s code stream (before its sub-block framing):
    * LSB-first, cleared once the table is full, no end-code fencepost. */
  private def refGifLzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    val dict = new java.util.HashMap[Integer, Integer]()
    var dictSize = endCode + 1
    var codeWidth = minCode + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accN = 0
    def putCode(c: Int): Unit = {
      acc |= c.toLong << accN
      accN += codeWidth
      while (accN >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; accN -= 8 }
    }
    putCode(clearCode)
    var prev = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val b = indices(i) & 0xff
      val key = (prev << 8) | b
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        putCode(prev)
        if (dictSize < 4096) {
          dict.put(key, dictSize)
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          dictSize += 1
        } else {
          putCode(clearCode)
          dict.clear()
          dictSize = endCode + 1
          codeWidth = minCode + 1
        }
        prev = b
      }
      i += 1
    }
    putCode(prev)
    putCode(endCode)
    if (accN > 0) bits.write((acc & 0xff).toInt)
    bits.toByteArray
  }

  // ------------------------------------------------------------ corpora

  private def mutate(z: Array[Byte], r: scala.util.Random): Array[Byte] = {
    val m = z.clone()
    if (m.isEmpty) return m
    r.nextInt(5) match {
      case 0 => // flip 1-3 bits
        for (_ <- 0 to r.nextInt(3)) { val p = r.nextInt(m.length); m(p) = (m(p) ^ (1 << r.nextInt(8))).toByte }
        m
      case 1 => java.util.Arrays.copyOf(m, r.nextInt(m.length)) // truncate
      case 2 => // splice a noise window
        val p = r.nextInt(m.length)
        for (k <- p until math.min(m.length, p + 1 + r.nextInt(8))) m(k) = r.nextInt(256).toByte
        m
      case 3 => // duplicate a slice
        val p = r.nextInt(m.length)
        val len = math.min(1 + r.nextInt(16), m.length - p)
        m.take(p + len) ++ m.slice(p, p + len) ++ m.drop(p + len)
      case _ => fdict(m, r)
    }
  }

  /** zlib headers with FDICT set that pass the header check (CMF 0x78). */
  private val FdictFlg = Seq(0x20, 0xbb, 0xf9)

  private def fdict(z: Array[Byte], r: scala.util.Random): Array[Byte] = {
    val flg = FdictFlg(r.nextInt(FdictFlg.length)).toByte
    r.nextInt(3) match {
      case 0 if z.length >= 2 => val m = z.clone(); m(0) = 0x78; m(1) = flg; m // next 4 bytes read as the dictionary id
      case 1 => Array[Byte](0x78, flg, 0, 0, 0, 1) ++ z.drop(2) // id spliced in before the body
      case _ => Array[Byte](0x78, flg) ++ Array.fill(r.nextInt(4))(0.toByte) // id cut short
    }
  }

  private def isFdict(m: Array[Byte]): Boolean =
    m.length >= 2 && (m(0) & 0x0f) == 8 && (m(1) & 0x20) != 0 &&
      ((m(0) & 0xff) * 256 + (m(1) & 0xff)) % 31 == 0

  /** A complete stream (zlib, or raw deflate with `nowrap`) whose output
    * is empty, checked with a fresh Inflater. */
  private def completeEmpty(m: Array[Byte], nowrap: Boolean = false): Boolean = {
    val inf = new Inflater(nowrap)
    try { inf.setInput(m); inf.inflate(new Array[Byte](1)) == 0 && inf.finished() }
    catch { case _: java.util.zip.DataFormatException => false }
    finally inf.end()
  }

  private def zlib(raw: Array[Byte]): Array[Byte] = Streams.deflate(raw)

  /** The IDAT payload of one of our PNGs (one IDAT chunk). */
  private def idatOf(png: Array[Byte]): Array[Byte] = {
    var p = 8
    def u32(q: Int) = ((png(q) & 0xff) << 24) | ((png(q + 1) & 0xff) << 16) | ((png(q + 2) & 0xff) << 8) | (png(q + 3) & 0xff)
    while (new String(png, p + 4, 4, "US-ASCII") != "IDAT") p += 12 + u32(p)
    java.util.Arrays.copyOfRange(png, p + 8, p + 8 + u32(p))
  }

  private def pixels(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.tabulate[Byte](n)(i => (if (i % 5 == 0) r.nextInt(256) else (i * seed) % 7).toByte)
  }

  /** Checks one adapter against its reference over `n` mutations of each
    * seed; returns how many reference runs spun (on FDICT inputs only). */
  private def differential(name: String, seeds: Seq[(Array[Byte], Int)], n: Int, truncated: String)(
      ref: (Array[Byte], Int) => Result, adapter: (Array[Byte], Int) => Result): Int = {
    val r = new scala.util.Random(name.hashCode)
    var spins = 0
    var outcomes = Set.empty[String]
    for ((seed, expected) <- seeds; i <- 0 until n) {
      val m = if (i == 0) seed else mutate(seed, r)
      val want = Seq(expected, expected, math.max(0, expected - 1 - r.nextInt(8)), expected + 1 + r.nextInt(8))(i % 4)
      val (a, b) = (ref(m, want), adapter(m, want))
      if (a == Left(Spin)) {
        spins += 1
        assert(isFdict(m) && b == Left(truncated), s"$name: spin on a non-FDICT input, or ${show(b)}")
      } else assert(same(a, b), s"$name mutation $i: ref ${show(a)} vs ${show(b)}")
      outcomes += b.fold(identity, _ => "ok")
    }
    assert(outcomes.contains("ok") && outcomes.size >= 3, s"$name covered only $outcomes")
    spins
  }

  test("PNG and TIFF inflate match their old loops on mutated streams; FDICT spins become truncated") {
    val png = Seq(Png.encode(pixels(40 * 20, 3), 40, 20, 1), Png.encode(pixels(17 * 9 * 3, 5), 17, 9, 3),
      Png.encodeGrayLowBit(pixels(23 * 11, 2).map(v => (v & 1).toByte), 23, 11, 1))
      .zip(Seq(20 * 41, 9 * 52, 11 * 4)).map { case (f, rawLen) => (idatOf(f), rawLen) }
    val pngSpins = differential("png", png, 400, "png: truncated IDAT")(refPngInflate, Png.inflateIdat)
    val tiff = Seq((24, 16, 1), (10, 7, 3)).map { case (w, h, nc) =>
      val f = Tiff.encodeCompressed(pixels(w * h * nc, w), w, h, nc, 8)
      val ifd = (f(4) & 0xff) | ((f(5) & 0xff) << 8) | ((f(6) & 0xff) << 16) | ((f(7) & 0xff) << 24)
      (java.util.Arrays.copyOfRange(f, 8, ifd), w * h * nc) // the one strip
    }
    val tiffSpins = differential("tiff", tiff, 400, "tiff: deflate truncated")(
      refTiffInflate, Tiff.decompressChunk(_, _, 8))
    assert(pngSpins > 0 && tiffSpins > 0) // the FDICT shapes were reached
  }

  test("PDF FlateDecode and WARC deflate match their old loops on mutated streams") {
    val text = ("BT /F1 12 Tf 72 720 Td (stream kernel) Tj ET\n" * 40).getBytes("ISO-8859-1")
    val pdf = Seq(PdfWriter.encodeOne(PdfWriter.FlateF, text), zlib(pixels(3000, 11)), zlib(Array.emptyByteArray))
    val warc = Seq(zlib(text), rawDeflate(text), rawDeflate(pixels(2000, 13)))
    val r = new scala.util.Random(9)
    var warcNulls = 0
    var emptyStreams = 0
    for (i <- 0 until 600) {
      val p = pdf(i % pdf.length)
      val m = if (i < pdf.length) p else mutate(p, r)
      val (a, b) = (pdfResult(refPdfInflate(m)), pdfResult(PdfParser.inflate(m)))
      if (!same(a, b)) { // the one allowed difference
        emptyStreams += 1
        assert(completeEmpty(m) && a == Left("pdf_flate_truncated") && b.exists(_.isEmpty),
          s"pdf mutation $i: ref ${show(a)} vs ${show(b)}")
      }
      val w = warc(i % warc.length)
      val mw = if (i < warc.length) w else mutate(w, r)
      val (c, d) = (refWarcDeflate(mw), Warc.contentDecode("deflate", mw))
      if (!java.util.Arrays.equals(c, d)) // the one allowed difference
        assert(c == null && d != null && d.isEmpty && (completeEmpty(mw) || completeEmpty(mw, nowrap = true)),
          s"warc mutation $i")
      if (d == null) warcNulls += 1
    }
    assert(warcNulls > 0 && warcNulls < 600)
    assert(emptyStreams > 0) // the empty-stream seed differs
  }

  /** A random LZW code stream the decoders accept: codes drawn from the
    * live table (and Clears), packed at the width schedule of
    * `earlyChange` (MSB-first with an 8-bit root unless told otherwise),
    * so long streams cross every width bump and fill the table. */
  private def codeStream(r: scala.util.Random, codes: Int, earlyChange: Int, clears: Boolean,
      end: Boolean, lsbFirst: Boolean = false, rootWidth: Int = 8): Array[Byte] = {
    val clear = 1 << rootWidth
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    var next = clear + 2; var width = rootWidth + 1; var first = true
    def put(code: Int): Unit = {
      if (lsbFirst) acc |= code.toLong << nBits else acc = (acc << width) | code
      nBits += width
      while (nBits >= 8) {
        nBits -= 8
        out.write((if (lsbFirst) { val b = acc; acc >>>= 8; b } else acc >>> nBits).toInt & 0xff)
      }
    }
    put(clear)
    for (_ <- 0 until codes) {
      if (clears && r.nextInt(1500) == 0) { put(clear); next = clear + 2; width = rootWidth + 1; first = true }
      else if (first) { put(r.nextInt(clear)); first = false }
      else {
        val c = r.nextInt(next - 1) match { case k if k < clear => k; case k => k + 2 } // skip Clear/end
        put(math.min(c, 4095)) // a full table (next = 4096) still reads 12-bit codes
        if (next < 4096) {
          next += 1
          if (next + earlyChange >= (1 << width) && width < 12) width += 1
        }
      }
    }
    if (end) put(clear + 1)
    if (nBits > 0) out.write((if (lsbFirst) acc else acc << (8 - nBits)).toInt & 0xff)
    out.toByteArray
  }

  test("LZW: PDF and TIFF adapters match their old decoders on random, encoded and mutated streams") {
    val r = new scala.util.Random(20261019)
    val noise = Array.fill(180000)(r.nextInt(256).toByte) // several table resets at 4094
    val encoded = Seq(1, 2, 253, 254, 255, 510, 511, 512, 1021, 1022, 1023, 2046, 4093, 4094, 4095, 9000)
      .flatMap(n => Seq(tiffLzw(pixels(n, n % 13 + 2)), PdfWriter.encodeOne(PdfWriter.LzwF, noise.take(n)))) :+
      tiffLzw(noise)
    val generated = for (early <- Seq(0, 1); codes <- Seq(1, 252, 253, 254, 765, 766, 1790, 3837, 3838, 5000);
        clears <- Seq(false, true); end <- Seq(true, false)) yield codeStream(r, codes, early, clears, end)
    val seeds = encoded ++ generated ++ Seq.fill(20)(Array.fill(1 + r.nextInt(400))(r.nextInt(256).toByte))
    var outcomes = Set.empty[String]
    for ((s, k) <- seeds.zipWithIndex; i <- 0 until 12) {
      val m = if (i == 0) s else mutate(s, r)
      for (early <- Seq(0, 1)) {
        val (a, b) = (pdfResult(refPdfLzw(m, early)), pdfResult(PdfParser.lzw(m, early)))
        assert(same(a, b), s"pdf seed $k mutation $i early $early: ref ${show(a)} vs ${show(b)}")
        outcomes += b.fold(identity, _ => "ok")
      }
      val full = pdfResult(refPdfLzw(m, 1)).fold(_ => 64, _.length)
      for (expected <- Seq(full, full - 1, full + 1, 100) if expected >= 0) {
        val (a, b) = (refTiffLzw(m, expected), Tiff.Lzw.decode(m, expected))
        assert(same(a, b), s"tiff seed $k mutation $i expected $expected: ref ${show(a)} vs ${show(b)}")
        outcomes += b.fold(identity, _ => "ok")
      }
    }
    for (o <- Seq("ok", "pdf_lzw_bad_code", "tiff: lzw output short", "tiff: lzw output overrun",
        "tiff: lzw stream truncated", "tiff: lzw bad first code", "tiff: lzw code out of range"))
      assert(outcomes.contains(o), s"never reached: $o")
  }

  test("kernel limits: the ceiling holds exactly, and a sized inflate stops at its size") {
    // a stream of exactly the ceiling decodes; one byte more is too large
    def zeros(n: Int): Array[Byte] = zlib(new Array[Byte](n))
    assert(Streams.inflate(zeros(Streams.MaxDecodedBytes)).map(_.length) == Right(Streams.MaxDecodedBytes))
    assert(Streams.inflate(zeros(Streams.MaxDecodedBytes + 1)) == Left(Streams.Stop.TooLarge))
    // PNG/TIFF read only what they need: a stream cut after `expected` still decodes
    val raw = pixels(5000, 7)
    val zr = zlib(raw)
    val cut = java.util.Arrays.copyOf(zr, zr.length - 4) // adler32 gone
    assert(Streams.inflateExactly(cut, raw.length).exists(java.util.Arrays.equals(_, raw)))
    assert(Streams.inflate(cut).isLeft)
    // LZW honours its limit the same way
    val l = tiffLzw(raw)
    assert(Streams.lzw(l, 1, raw.length).exists(java.util.Arrays.equals(_, raw)))
    assert(Streams.lzw(l, 1, raw.length - 1) == Left(Streams.Stop.TooLarge))
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  test("deflate: one kernel gives every old loop's bytes, and PNG's one chunk writer its old files") {
    val r = new scala.util.Random(1016)
    val inputs = Seq(Array.emptyByteArray, Array[Byte](7), pixels(100, 3), pixels(4095, 5), pixels(4096, 6),
      pixels(70000, 9), Array.fill(50000)(r.nextInt(256).toByte), ("text kernel " * 9000).getBytes("US-ASCII"))
    for (x <- inputs; nowrap <- Seq(false, true); buf <- Seq(4096, 8192, 2 * x.length + 64))
      assert(sameBytes(if (nowrap) rawDeflate(x) else Streams.deflate(x), refDeflate(x, nowrap, buf)),
        s"${x.length} bytes nowrap $nowrap")
    for (x <- inputs)
      assert(sameBytes(PdfWriter.encodeOne(PdfWriter.FlateF, x), refDeflate(x, nowrap = false, 2 * x.length + 64)))
    for ((w, h, nc) <- Seq((1, 1, 1), (40, 20, 1), (17, 9, 3), (300, 200, 3))) {
      val pix = pixels(w * h * nc, w + nc)
      assert(sameBytes(Png.encode(pix, w, h, nc), refPngEncode(pix, w, h, nc)), s"png ${w}x$h/$nc")
      val tiff = Tiff.encodeCompressed(pix, w, h, nc, 8) // one strip, right after the header
      val ifd = (tiff(4) & 0xff) | ((tiff(5) & 0xff) << 8) | ((tiff(6) & 0xff) << 16) | ((tiff(7) & 0xff) << 24)
      val strip = refDeflate(pix, nowrap = false, 4096)
      assert(ifd == 8 + strip.length + (strip.length & 1) && // word-aligned
        sameBytes(java.util.Arrays.copyOfRange(tiff, 8, 8 + strip.length), strip), s"tiff ${w}x$h/$nc")
    }
  }

  /** `z` decodes to `x` and ends in a readable end code (TIFF/PDF layout). */
  private def strictLzw(z: Array[Byte], x: Array[Byte]): Boolean =
    Streams.lzw(z, 1, x.length).exists(sameBytes(_, x))

  /** The same for GIF's layout: asked for one byte more than `x`, the
    * decoder returns `x` whole only when an end code follows it. */
  private def strictGifLzw(z: Array[Byte], x: Array[Byte], minCode: Int): Boolean =
    Streams.lzwExactly(z, x.length + 1, minCode).exists(sameBytes(_, x))

  test("LZW encoders: TIFF's bytes unchanged; GIF's and PDF's unchanged wherever the old bytes decode strictly") {
    val r = new scala.util.Random(1017)
    var gifDiffs = 0; var pdfDiffs = 0
    for (alphabet <- Seq(2, 4, 16, 256); len <- (1 to 3000 by 7) ++ Seq(253, 254, 509, 510, 1021, 1022, 2045, 2046)) {
      val x = Array.fill(len)(r.nextInt(alphabet).toByte)
      assert(sameBytes(Streams.lzwEncode(x, earlyChange = 1), refTiffLzwEncode(x)), s"tiff $alphabet/$len")
      // inputs this short never fill the table: the end code is the only difference
      val (pdf, oldPdf) = (PdfWriter.encodeOne(PdfWriter.LzwF, x), refPdfLzwEncode(x))
      assert(strictLzw(pdf, x), s"pdf $alphabet/$len")
      if (!sameBytes(pdf, oldPdf)) { pdfDiffs += 1; assert(!strictLzw(oldPdf, x)) }
      for (minCode <- 2 to 8 if (1 << minCode) >= alphabet) {
        val (gif, oldGif) = (Streams.lzwEncode(x, 0, lsbFirst = true, minCode), refGifLzwEncode(x, minCode))
        assert(strictGifLzw(gif, x, minCode), s"gif $minCode $alphabet/$len")
        if (!sameBytes(gif, oldGif)) { // the wider end code spilled into a byte of its own
          gifDiffs += 1
          assert(!strictGifLzw(oldGif, x, minCode) && sameBytes(gif, oldGif :+ 0.toByte))
        }
      }
    }
    assert(pdfDiffs > 0 && gifDiffs > 0) // the end-code fenceposts were reached
    val noise = Array.fill(200000)(r.nextInt(256).toByte) // clears the table many times
    assert(sameBytes(Streams.lzwEncode(noise, earlyChange = 1), refTiffLzwEncode(noise)))
    assert(strictLzw(PdfWriter.encodeOne(PdfWriter.LzwF, noise), noise))
  }

  /** The LZW-coded stream bodies of a [[PdfWriter]] PDF, ASCIIHex-decoded
    * first when the chain starts with it. */
  private def lzwStreams(pdf: Array[Byte]): Seq[Array[Byte]] =
    """<< /Length (\d+)([^<>]*/LZWDecode[^<>]*) >>\nstream\n""".r
      .findAllMatchIn(new String(pdf, "ISO-8859-1")).map { m =>
        val body = java.util.Arrays.copyOfRange(pdf, m.end, m.end + m.group(1).toInt)
        if (m.group(2).contains("ASCIIHexDecode")) PdfParser.asciiHex(body) else body
      }.toSeq

  test("PDF LZW: every stream the writer emits ends in a readable end code") {
    val r = new scala.util.Random(1018)
    for (alphabet <- Seq(2, 4, 16, 256); len <- 1 to 3000) {
      val x = Array.fill(len)(r.nextInt(alphabet).toByte)
      val got = Streams.lzw(PdfWriter.encodeOne(PdfWriter.LzwF, x), 1, Streams.MaxDecodedBytes)
      assert(got.exists(sameBytes(_, x)), s"alphabet $alphabet length $len: ${got.fold(_.getClass.getSimpleName, _ => "wrong bytes")}")
    }
    val streams = for (seed <- Seq(42L, 7L, 1L, 1331L, 9401L); i <- 0L until 4000L;
        z <- lzwStreams(graft.synth.Synth.page(seed, i).html)) yield z
    assert(streams.length > 500)
    for ((z, k) <- streams.zipWithIndex)
      assert(Streams.lzw(z, 1, Streams.MaxDecodedBytes).isRight, s"synth LZW stream $k has no readable end code")
  }

  /** A one-frame GIF around an LZW code stream, with a palette of
    * 2^minCode colors. */
  private def gifOf(codes: Array[Byte], w: Int, h: Int, minCode: Int, interlaced: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h); out.write(0x80 | (minCode - 1)); out.write(0); out.write(0)
    out.write(gifPalette(minCode))
    out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(if (interlaced) 0x40 else 0)
    out.write(minCode)
    codes.grouped(255).foreach { g => out.write(g.length); out.write(g) }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  private def gifPalette(minCode: Int): Array[Byte] = Array.tabulate[Byte](3 << minCode)(i => (i * 7 + i / 3).toByte)

  private type ImageResult = Either[String, Jpeg.Image]

  private def label(r: Either[String, Any]): String = r.fold(identity, _ => "ok")

  private def sameImage(a: ImageResult, b: ImageResult): Boolean = (a, b) match {
    case (Right(x), Right(y)) =>
      x.width == y.width && x.height == y.height && x.nComponents == y.nComponents && sameBytes(x.pixels, y.pixels)
    case _ => a == b
  }

  private def sameAnim(a: Either[String, Gif.Anim], b: Either[String, Gif.Anim]): Boolean = (a, b) match {
    case (Right(x), Right(y)) =>
      x.width == y.width && x.height == y.height && x.loop == y.loop && x.delaysCs == y.delaysCs &&
        x.nFrames == y.nFrames && x.frames.zip(y.frames).forall { case (f, g) => sameImage(Right(f), Right(g)) }
    case _ => a == b
  }

  test("GIF LZW: frames decode through Streams as through the old decoder, on random and mutated code streams") {
    val r = new scala.util.Random(1019)
    var outcomes = Set.empty[String]
    for (minCode <- 2 to 8; codes <- Seq(1, 5, 60, 700, 3000, 5000); clears <- Seq(false, true); end <- Seq(true, false)) {
      val z = codeStream(r, codes, earlyChange = 0, clears, end, lsbFirst = true, rootWidth = minCode)
      val full = Streams.lzwExactly(z, 1 << 20, minCode) match { // far past any of these streams' output
        case Right(o) => o.length
        case Left(Streams.Stop.Truncated(o)) => o.length
        case _ => 64
      }
      for (i <- 0 until 6; n <- Seq(full, full - 1, full + 1, 1 + r.nextInt(64)) if n > 0) {
        val m = if (i == 0) z else mutate(z, r)
        val (w, h) = if (n % 3 == 0) (n / 3, 3) else (n, 1)
        val g = gifOf(m, w, h, minCode, interlaced = i % 2 == 1)
        val (a, b) = (OldGif.decode(g), Gif.decode(g))
        assert(sameImage(a, b), s"minCode $minCode codes $codes mutation $i size $n: ${label(a)} vs ${label(b)}")
        outcomes += label(b)
      }
    }
    for (o <- Seq("ok", "gif: LZW stream truncated", "gif: LZW ended early", "gif: LZW code out of range"))
      assert(outcomes.contains(o), s"never reached: $o")
  }

  test("GIF frame reader: decode and decodeFrames match the old decoders on CodecFuzzSpec's mutations") {
    val r = new scala.util.Random(1020)
    val interlaced = CodecFuzzSpec.gifStill.clone()
    interlaced(13 + 48 + 9) = 0x40 // the descriptor's interlace flag, after 16 palette entries
    var outcomes = Set.empty[String]
    for (seed <- Seq(CodecFuzzSpec.gifStill, interlaced, CodecFuzzSpec.gifAnimated);
        m <- Iterator(seed) ++ CodecFuzzSpec.mutations(seed, 3000, r)) {
      val (a, b) = (OldGif.decode(m), Gif.decode(m))
      assert(sameImage(a, b), s"decode: ${label(a)} vs ${label(b)}")
      val (c, d) = (OldGif.decodeFrames(m), Gif.decodeFrames(m))
      assert(sameAnim(c, d), s"decodeFrames: ${label(c)} vs ${label(d)}")
      outcomes ++= Seq(label(b), label(d))
    }
    assert(outcomes.size >= 12, s"covered only $outcomes")
  }

  test("GIF LZW past a full table: ImageIO reads the new and the old clear point as the same pixels") {
    for (minCode <- Seq(2, 5, 8)) {
      val r = new scala.util.Random(minCode)
      val (w, h) = (240, 160)
      val idx = Array.fill(w * h)(r.nextInt(1 << minCode).toByte) // noise: the table fills several times
      val pal = gifPalette(minCode)
      val (now, old) = (Gif.encode(idx, w, h, pal), gifOf(refGifLzwEncode(idx, minCode), w, h, minCode))
      assert(!sameBytes(Streams.lzwEncode(idx, 0, lsbFirst = true, minCode), refGifLzwEncode(idx, minCode)))
      def viaImageIO(g: Array[Byte]): Array[Int] = {
        val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(g))
        im.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff)
      }
      val want = idx.map { i => val k = 3 * (i & 0xff); ((pal(k) & 0xff) << 16) | ((pal(k + 1) & 0xff) << 8) | (pal(k + 2) & 0xff) }
      assert(viaImageIO(now).sameElements(want) && viaImageIO(old).sameElements(want), s"minCode $minCode")
      assert(sameImage(Gif.decode(now), Gif.decode(old)))
    }
  }
}

/** The GIF decoders before they read frames through one reader and LZW
  * through [[Streams]]: StreamsSpec's differential reference. */
object StreamsSpec {

  /** Raw deflate (no zlib wrapper), the form servers mislabel as
    * "deflate": the zlib stream without its 2-byte header and 4-byte
    * Adler-32 trailer. StreamsSpec pins it to `Deflater(nowrap = true)`. */
  def rawDeflate(x: Array[Byte]): Array[Byte] = {
    val z = Streams.deflate(x)
    java.util.Arrays.copyOfRange(z, 2, z.length - 4)
  }
}

private object OldGif {
  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!Gif.isGif(b)) return Left("gif: bad signature")
    if (b.length < 13) return Left("gif: truncated header")
    val sw = u16(b, 6); val sh = u16(b, 8)
    if (sw <= 0 || sh <= 0) return Left("gif: bad screen size")
    val flags = b(10) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (p + 3 * n > b.length) return Left("gif: truncated global color table")
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b => return Left("gif: no image data before trailer")
        case 0x21 => // extension: label + sub-blocks
          p += 2
          while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
          p += 1
        case 0x2c => // image descriptor
          if (p + 10 > b.length) return Left("gif: truncated image descriptor")
          val iw = u16(b, p + 5); val ih = u16(b, p + 7)
          val iflags = b(p + 9) & 0xff
          val interlaced = (iflags & 0x40) != 0
          p += 10
          var pal = gct
          if ((iflags & 0x80) != 0) {
            val n = 2 << (iflags & 7)
            if (p + 3 * n > b.length) return Left("gif: truncated local color table")
            pal = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
            p += 3 * n
          }
          if (pal == null) return Left("gif: no color table")
          if (iw <= 0 || ih <= 0 || iw.toLong * ih > (1 << 28) / 4)
            return Left("gif: bad frame size") // alloc ceiling, not just overflow guard
          if (p >= b.length) return Left("gif: missing LZW code size")
          val minCode = b(p) & 0xff
          p += 1
          if (minCode < 2 || minCode > 8) return Left("gif: bad LZW min code size")
          // gather sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (p < b.length && (b(p) & 0xff) != 0) {
            val n = b(p) & 0xff
            if (p + 1 + n > b.length) return Left("gif: truncated data sub-block")
            data.write(b, p + 1, n)
            p += 1 + n
          }
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih) match {
            case Right(ix) => ix
            case Left(e) => return Left(e)
          }
          // de-interlace + palette resolve
          val maxIdx = pal.length / 3
          val out = new Array[Byte](iw * ih * 3)
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(ih)(identity)
            else {
              val o = new Array[Int](ih)
              var k = 0
              for (start <- Seq(0, 4, 2, 1); step <- Seq(Seq(8, 8, 4, 2)(Seq(0, 4, 2, 1).indexOf(start)))) {
                var y = start
                while (y < ih) { o(k) = y; k += 1; y += step }
              }
              o
            }
          var srcRow = 0
          while (srcRow < ih) {
            val dstY = rowOrder(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x) & 0xff
              if (idx >= maxIdx) return Left("gif: palette index out of range")
              val o = (dstY * iw + x) * 3
              out(o) = pal(3 * idx); out(o + 1) = pal(3 * idx + 1); out(o + 2) = pal(3 * idx + 2)
              x += 1
            }
            srcRow += 1
          }
          return Right(Jpeg.Image(iw, ih, 3, out))
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: no image frame")
  }

  /** Variable-width LZW decode (GIF flavor: little-endian bit packing,
    * clear/end codes, dictionary capped at 4096). */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Either[String, Array[Byte]] = {
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    val out = new Array[Byte](nPixels)
    var outPos = 0
    // dictionary as (prefix, suffix) pairs
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = 0
    var codeWidth = 0
    def reset(): Unit = { dictSize = endCode + 1; codeWidth = minCode + 1 }
    reset()
    var bitPos = 0
    val nBits = data.length * 8
    def readCode(): Int = {
      if (bitPos + codeWidth > nBits) return -1
      var v = 0; var i = 0
      while (i < codeWidth) {
        val bp = bitPos + i
        v |= ((data(bp >> 3) >> (bp & 7)) & 1) << i
        i += 1
      }
      bitPos += codeWidth
      v
    }
    val stack = new Array[Byte](4096)
    var prev = -1
    while (outPos < nPixels) {
      val code = readCode()
      if (code < 0) return Left("gif: LZW stream truncated")
      if (code == clearCode) { reset(); prev = -1 }
      else if (code == endCode) {
        if (outPos < nPixels) return Left("gif: LZW ended early")
      } else {
        if (code >= dictSize && !(code == dictSize && prev >= 0))
          return Left("gif: LZW code out of range")
        // expand code (or the KwK special case) onto the stack
        var sp = 0
        var cur = code
        var firstByte: Byte = 0
        if (code == dictSize) { // KwK: prev string + its first byte
          cur = prev
          // placeholder; the appended byte equals prev's first byte
        }
        while (cur >= clearCode + 2) { // composite entry
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        firstByte = cur.toByte // literal root
        stack(sp) = firstByte; sp += 1
        if (code == dictSize) {
          // emit prev's expansion then firstByte (already arranged: the
          // stack currently holds prev's string; append firstByte FIRST
          // in output order means pushing it at the BOTTOM — handle by
          // writing stack then the extra byte)
        }
        // write stack in reverse
        var i = sp - 1
        while (i >= 0 && outPos < nPixels) { out(outPos) = stack(i); outPos += 1; i -= 1 }
        if (code == dictSize && outPos < nPixels) { out(outPos) = firstByte; outPos += 1 }
        // grow dictionary
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = firstByte
          dictSize += 1
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      }
    }
    Right(out)
  }

  def decodeFrames(b: Array[Byte], maxFrames: Int = 4096): Either[String, Gif.Anim] =
    try decodeFramesImpl(b, maxFrames)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeFramesImpl(b: Array[Byte], maxFrames: Int): Either[String, Gif.Anim] = {
    if (!Gif.isGif(b)) return Left("gif: bad signature")
    if (b.length < 13) return Left("gif: truncated header")
    val sw = u16(b, 6); val sh = u16(b, 8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > (1 << 28) / 4) return Left("gif: bad screen size")
    val flags = b(10) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (p + 3 * n > b.length) return Left("gif: truncated global color table")
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    val canvas = new Array[Byte](sw * sh * 3) // starts black
    var loop = -1
    val frames = Vector.newBuilder[Jpeg.Image]
    val delays = Vector.newBuilder[Int]
    var n = 0
    // pending graphic-control state (applies to the NEXT image)
    var delayCs = 0; var disposal = 0; var transIdx = -1
    // disposal of the PREVIOUS frame, to apply before the next draw
    var prevDisposal = 0
    var prevRect: (Int, Int, Int, Int) = null
    var prevCanvas: Array[Byte] = null
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b =>
          val fs = frames.result()
          if (fs.isEmpty) return Left("gif: no image frame")
          return Right(Gif.Anim(sw, sh, loop, fs, delays.result()))
        case 0x21 =>
          val label = if (p + 1 < b.length) b(p + 1) & 0xff else -1
          if (label == 0xf9 && p + 7 < b.length && (b(p + 2) & 0xff) >= 4) {
            val packed = b(p + 3) & 0xff
            disposal = (packed >> 2) & 7
            delayCs = u16(b, p + 4)
            transIdx = if ((packed & 1) != 0) b(p + 6) & 0xff else -1
          } else if (label == 0xff && p + 2 < b.length && (b(p + 2) & 0xff) == 11 &&
            p + 14 <= b.length &&
            new String(b, p + 3, 8, "US-ASCII") == "NETSCAPE") {
            // NETSCAPE2.0 app extension: sub-block (1, loop lo, loop hi)
            val q = p + 14
            if (q + 4 <= b.length && (b(q) & 0xff) >= 3 && (b(q + 1) & 0xff) == 1)
              loop = u16(b, q + 2)
          }
          p += 2
          while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
          p += 1
        case 0x2c =>
          if (n >= maxFrames) return Left("gif: too many frames")
          if (p + 10 > b.length) return Left("gif: truncated image descriptor")
          val left = u16(b, p + 1); val top = u16(b, p + 3)
          val iw = u16(b, p + 5); val ih = u16(b, p + 7)
          val iflags = b(p + 9) & 0xff
          val interlaced = (iflags & 0x40) != 0
          p += 10
          var pal = gct
          if ((iflags & 0x80) != 0) {
            val nn = 2 << (iflags & 7)
            if (p + 3 * nn > b.length) return Left("gif: truncated local color table")
            pal = java.util.Arrays.copyOfRange(b, p, p + 3 * nn)
            p += 3 * nn
          }
          if (pal == null) return Left("gif: no color table")
          if (iw <= 0 || ih <= 0 || left + iw > sw || top + ih > sh)
            return Left("gif: frame rect outside canvas")
          if (p >= b.length) return Left("gif: missing LZW code size")
          val minCode = b(p) & 0xff
          p += 1
          if (minCode < 2 || minCode > 8) return Left("gif: bad LZW min code size")
          val data = new java.io.ByteArrayOutputStream()
          while (p < b.length && (b(p) & 0xff) != 0) {
            val nn = b(p) & 0xff
            if (p + 1 + nn > b.length) return Left("gif: truncated data sub-block")
            data.write(b, p + 1, nn)
            p += 1 + nn
          }
          p += 1 // sub-block terminator
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih) match {
            case Right(ix) => ix
            case Left(e)   => return Left(e)
          }
          // apply the PREVIOUS frame's disposal before drawing this one
          prevDisposal match {
            case 2 if prevRect != null =>
              val (pl, pt, pw2, ph2) = prevRect
              var y = pt
              while (y < pt + ph2) {
                java.util.Arrays.fill(canvas, (y * sw + pl) * 3, (y * sw + pl + pw2) * 3, 0.toByte)
                y += 1
              }
            case 3 if prevCanvas != null =>
              System.arraycopy(prevCanvas, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          val saved = if (disposal == 3) canvas.clone() else null
          val maxIdx = pal.length / 3
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(ih)(identity)
            else {
              val o = new Array[Int](ih)
              var k = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var y = start
                while (y < ih) { o(k) = y; k += 1; y += step }
              }
              o
            }
          var srcRow = 0
          while (srcRow < ih) {
            val dstY = top + rowOrder(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x) & 0xff
              if (idx >= maxIdx) return Left("gif: palette index out of range")
              if (idx != transIdx) {
                val o = (dstY * sw + left + x) * 3
                canvas(o) = pal(3 * idx); canvas(o + 1) = pal(3 * idx + 1)
                canvas(o + 2) = pal(3 * idx + 2)
              }
              x += 1
            }
            srcRow += 1
          }
          frames += Jpeg.Image(sw, sh, 3, canvas.clone())
          delays += delayCs
          n += 1
          prevDisposal = disposal
          prevRect = (left, top, iw, ih)
          prevCanvas = saved
          delayCs = 0; disposal = 0; transIdx = -1
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: missing trailer")
  }
}
