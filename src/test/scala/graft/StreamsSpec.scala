package graft

import java.util.zip.Inflater

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Png, Streams, Tiff}
import graft.pdf.{PdfParser, PdfWriter}
import graft.sources.Warc

/** Differential oracles for the shared byte-stream kernels
  * ([[Streams.inflate]], [[Streams.inflateExactly]], [[Streams.lzw]]).
  * The six loops they replaced (four zlib inflates, two LZW decoders)
  * live on here as references, and each format's adapter must return
  * their exact bytes and error strings over random and mutated streams.
  *
  * One difference is allowed: a zlib header asking for a preset
  * dictionary (FDICT) made the PNG and TIFF loops spin. The references
  * carry an iteration guard so this spec ends, and on exactly those
  * inputs the adapters must report their "truncated" error instead. */
class StreamsSpec extends AnyFunSuite {

  private type Result = Either[String, Array[Byte]]

  private def same(a: Result, b: Result): Boolean = (a, b) match {
    case (Right(x), Right(y)) => java.util.Arrays.equals(x, y)
    case _                    => a == b
  }

  private def show(r: Result): String = r.fold(identity, b => s"${b.length} bytes")

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

  private def zlib(raw: Array[Byte], nowrap: Boolean = false): Array[Byte] =
    Warc.deflateEncode(raw, zlibWrapper = !nowrap)

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
    val warc = Seq(zlib(text), zlib(text, nowrap = true), zlib(pixels(2000, 13), nowrap = true))
    val r = new scala.util.Random(9)
    var warcNulls = 0
    for (i <- 0 until 600) {
      val p = pdf(i % pdf.length)
      val m = if (i < pdf.length) p else mutate(p, r)
      val (a, b) = (pdfResult(refPdfInflate(m)), pdfResult(PdfParser.inflate(m)))
      assert(same(a, b), s"pdf mutation $i: ref ${show(a)} vs ${show(b)}")
      val w = warc(i % warc.length)
      val mw = if (i < warc.length) w else mutate(w, r)
      val (c, d) = (refWarcDeflate(mw), Warc.contentDecode("deflate", mw))
      assert(java.util.Arrays.equals(c, d), s"warc mutation $i")
      if (d == null) warcNulls += 1
    }
    assert(warcNulls > 0 && warcNulls < 600)
  }

  /** A random LZW code stream the decoders accept: codes drawn from the
    * live table (and Clears), packed MSB-first at the width schedule of
    * `earlyChange`, so long streams cross the 511/1023/2047/4095 bumps
    * and fill the table. */
  private def codeStream(r: scala.util.Random, codes: Int, earlyChange: Int, clears: Boolean,
      end: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    var next = 258; var width = 9; var first = true
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nBits += width
      while (nBits >= 8) { out.write(((acc >>> (nBits - 8)) & 0xff).toInt); nBits -= 8 }
    }
    put(256)
    for (_ <- 0 until codes) {
      if (clears && r.nextInt(1500) == 0) { put(256); next = 258; width = 9; first = true }
      else if (first) { put(r.nextInt(256)); first = false }
      else {
        val c = r.nextInt(next - 1) match { case k if k < 256 => k; case k => k + 2 } // skip 256/257
        put(math.min(c, 4095)) // a full table (next = 4096) still reads 12-bit codes
        if (next < 4096) {
          next += 1
          if (next + earlyChange >= (1 << width) && width < 12) width += 1
        }
      }
    }
    if (end) put(257)
    if (nBits > 0) out.write(((acc << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  test("LZW: PDF and TIFF adapters match their old decoders on random, encoded and mutated streams") {
    val r = new scala.util.Random(20261019)
    val noise = Array.fill(180000)(r.nextInt(256).toByte) // several table resets at 4094
    val encoded = Seq(1, 2, 253, 254, 255, 510, 511, 512, 1021, 1022, 1023, 2046, 4093, 4094, 4095, 9000)
      .flatMap(n => Seq(Tiff.Lzw.encode(pixels(n, n % 13 + 2)), PdfWriter.encodeOne(PdfWriter.LzwF, noise.take(n)))) :+
      Tiff.Lzw.encode(noise)
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
    val l = Tiff.Lzw.encode(raw)
    assert(Streams.lzw(l, 1, raw.length).exists(java.util.Arrays.equals(_, raw)))
    assert(Streams.lzw(l, 1, raw.length - 1) == Left(Streams.Stop.TooLarge))
  }
}
