package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{CcittG4, Gif, Jpeg, JpegEncoder, Png, Wav}

/** Mutation fuzz over every codec: random byte flips / truncations /
  * splices of VALID files must terminate with `Left` or a (possibly
  * wrong) `Right` — never an exception, never a hang. This is the X7
  * error-as-data rule applied to the media layer: a 100-TB crawl WILL
  * contain every possible corruption. */
class CodecFuzzSpec extends AnyFunSuite {

  private val r = new scala.util.Random(20260820)

  private def mutations(valid: Array[Byte], n: Int): Iterator[Array[Byte]] =
    Iterator.tabulate(n) { i =>
      val m = valid.clone()
      (i % 4) match {
        case 0 => // flip 1-4 random bytes
          for (_ <- 0 to r.nextInt(4)) {
            val p = r.nextInt(m.length)
            m(p) = (m(p) ^ (1 << r.nextInt(8))).toByte
          }
          m
        case 1 => // truncate
          java.util.Arrays.copyOf(m, 1 + r.nextInt(m.length))
        case 2 => // splice a random window with noise
          val p = r.nextInt(m.length)
          val len = math.min(1 + r.nextInt(16), m.length - p)
          for (k <- 0 until len) m(p + k) = r.nextInt(256).toByte
          m
        case _ => // duplicate a slice (structure confusion)
          val p = r.nextInt(m.length)
          val len = math.min(1 + r.nextInt(32), m.length - p)
          val out = new Array[Byte](m.length + len)
          System.arraycopy(m, 0, out, 0, p + len)
          System.arraycopy(m, p, out, p + len, len)
          System.arraycopy(m, p + len, out, p + 2 * len, m.length - p - len)
          out
      }
    }

  private def flatJpeg(): Array[Byte] = {
    val pix = Array.tabulate[Byte](48 * 32)(i => ((i * 7) % 256).toByte)
    JpegEncoder.encodeGray(pix, 48, 32)
  }

  test("jpeg decode survives 400 mutations (sequential + progressive + exif)") {
    val pix = Array.tabulate[Byte](48 * 32)(i => ((i * 7) % 256).toByte)
    val seeds = Seq(
      flatJpeg(),
      JpegEncoder.encodeGrayProgressive(pix, 48, 32),
      JpegEncoder.withExifOrientation(flatJpeg(), 6),
      JpegEncoder.encodeRgb444(Array.tabulate[Byte](16 * 16 * 3)(i => (i % 256).toByte), 16, 16))
    for (seed <- seeds; m <- mutations(seed, 100)) {
      Jpeg.decode(m) // Left or Right, never throw
      Jpeg.dimensions(m)
      Jpeg.exifOrientation(m)
    }
    succeed
  }

  test("png decode survives 300 mutations") {
    val pix = Array.tabulate[Byte](40 * 20)(i => ((i * 3) % 256).toByte)
    val seed = Png.encode(pix, 40, 20, 1)
    for (m <- mutations(seed, 300)) Png.decode(m)
    succeed
  }

  test("low-bit png decode survives 300 mutations per depth") {
    for (d <- Seq(1, 2, 4)) {
      val vals = Array.tabulate[Byte](23 * 11)(i => (i % (1 << d)).toByte)
      val gray = Png.encodeGrayLowBit(vals, 23, 11, d)
      for (m <- mutations(gray, 300)) Png.decode(m)
      val pal = Array.tabulate[Byte]((1 << d) * 3)(i => (i * 11).toByte)
      val indexed = Png.encodeIndexed(vals, 23, 11, d, pal)
      for (m <- mutations(indexed, 300)) Png.decode(m)
    }
    succeed
  }

  test("gif decode survives 300 mutations") {
    val pal = Array.tabulate[Byte](16 * 3)(i => (i * 5).toByte)
    val idx = Array.tabulate[Byte](30 * 18)(i => (i % 16).toByte)
    val seed = Gif.encode(idx, 30, 18, pal)
    for (m <- mutations(seed, 300)) Gif.decode(m)
    succeed
  }

  test("animated gif decode survives 300 mutations") {
    val pal = Array.tabulate[Byte](16 * 3)(i => (i * 5).toByte)
    val frames = Seq(
      Gif.FrameSpec(Array.tabulate[Byte](12 * 8)(i => (i % 16).toByte), 0, 0, 12, 8, 5, 1),
      Gif.FrameSpec(Array.tabulate[Byte](4 * 3)(i => (i % 16).toByte), 4, 2, 4, 3, 5, 2, transIdx = 7),
      Gif.FrameSpec(Array.tabulate[Byte](2 * 2)(i => (i % 4).toByte), 1, 1, 2, 2, 5, 3))
    val seed = Gif.encodeAnimated(12, 8, pal, 2, frames)
    for (m <- mutations(seed, 300)) Gif.decodeFrames(m)
    succeed
  }

  test("wav decode survives 300 mutations") {
    val seed = Wav.encode(Array.tabulate(400)(i => ((i * 37) % 2001 - 1000).toShort), 1, 16000)
    for (m <- mutations(seed, 300)) Wav.decode(m)
    succeed
  }

  test("ccitt decode survives 300 mutations") {
    val pix = Array.tabulate[Byte](64 * 16)(i => ((i / 5) % 2).toByte)
    val seed = CcittG4.encode(pix, 64, 16)
    for (m <- mutations(seed, 300)) CcittG4.decode(m, 64, 16)
    succeed
  }

  test("tiff decode survives 300 mutations (gray multi-strip, RGB, G4)") {
    val gray = Array.tabulate[Byte](20 * 12)(i => ((i * 3) % 256).toByte)
    val rgb = Array.tabulate[Byte](10 * 8 * 3)(i => ((i * 5) % 256).toByte)
    val bilevel = Array.tabulate[Byte](32 * 10)(i => ((i / 4) % 2).toByte)
    val seeds = Seq(
      graft.codec.Tiff.encode(gray, 20, 12, 1, rowsPerStrip = 3),
      graft.codec.Tiff.encode(rgb, 10, 8, 3),
      graft.codec.Tiff.encodeG4(bilevel, 32, 10, rowsPerStrip = 4),
      graft.codec.Tiff.encodeCompressed(gray, 20, 12, 1, 5, rowsPerStrip = 5, predictor = true),
      graft.codec.Tiff.encodeCompressed(rgb, 10, 8, 3, 32773),
      graft.codec.Tiff.encodeCompressed(gray, 20, 12, 1, 8),
      graft.codec.Tiff.encodeTiled(gray, 20, 12, 1, 16, 16, 5, predictor = true),
      graft.codec.Tiff.encodeJpeg(Array.tabulate[Byte](16 * 16)(i => (i * 3).toByte), 16, 16, 8))
    for (seed <- seeds; m <- mutations(seed, 100)) graft.codec.Tiff.decode(m)
    succeed
  }

  test("bmp decode survives 300 mutations") {
    val rgb = Array.tabulate[Byte](21 * 14 * 3)(i => ((i * 5) % 256).toByte)
    val seed = graft.codec.Bmp.encode(rgb, 21, 14)
    for (m <- mutations(seed, 300)) graft.codec.Bmp.decode(m)
    succeed
  }

  test("rle bmp decode survives 600 mutations") {
    val pal = Array.tabulate[Byte](256 * 3)(i => (i * 7).toByte)
    val idx8 = Array.tabulate[Byte](19 * 9)(i => ((i / 3) % 50).toByte)
    val rle8 = graft.codec.Bmp.encodeRle8(idx8, 19, 9, pal)
    for (m <- mutations(rle8, 300)) graft.codec.Bmp.decode(m)
    val idx4 = Array.tabulate[Byte](17 * 7)(i => (i % 16).toByte)
    val rle4 = graft.codec.Bmp.encodeRle4(idx4, 17, 7, pal)
    for (m <- mutations(rle4, 300)) graft.codec.Bmp.decode(m)
    succeed
  }

  test("avi decode survives 300 mutations") {
    val frames = (0 until 3).map(i =>
      JpegEncoder.encodeGray(Array.fill[Byte](16 * 16)((i * 70).toByte), 16, 16))
    val seed = graft.codec.Avi.encode(frames, 16, 16, 40000)
    for (m <- mutations(seed, 300)) graft.codec.Avi.decode(m)
    succeed
  }

  test("every Flate/LZW adapter ends within one time bound on mutations and FDICT headers") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import graft.codec.Tiff
    import graft.pdf.{PdfParser, PdfWriter}
    import graft.sources.Warc
    val pix = Array.tabulate[Byte](24 * 16)(i => ((i * 7) % 13).toByte)
    val text = ("BT (kernel fuzz) Tj ET\n" * 30).getBytes("ISO-8859-1")
    // zlib headers that pass the header check and ask for a preset dictionary
    def fdict(z: Array[Byte]): Array[Byte] = {
      val flg = Seq(0x20, 0xbb, 0xf9)(r.nextInt(3)).toByte
      Array[Byte](0x78, flg) ++ Array.fill(r.nextInt(5))(0.toByte) ++ z.drop(2)
    }
    def fdictAt(f: Array[Byte], at: Int): Array[Byte] = { // header patched in place
      val m = f.clone(); m(at) = 0x78; m(at + 1) = Seq(0x20, 0xbb, 0xf9)(r.nextInt(3)).toByte; m
    }
    val png = Png.encode(pix, 24, 16, 1)
    val idat = png.indexOfSlice("IDAT".getBytes("US-ASCII")) + 4
    val hostilePng = { // FDICT IDAT with its chunk CRC redone, so the inflate is reached
      val m = fdictAt(png, idat)
      val len = java.nio.ByteBuffer.wrap(m, idat - 8, 4).getInt
      val crc = new java.util.zip.CRC32(); crc.update(m, idat - 4, len + 4)
      java.nio.ByteBuffer.wrap(m, idat + len, 4).putInt(crc.getValue.toInt)
      m
    }
    val tiffDeflate = Tiff.encodeCompressed(pix, 24, 16, 1, 8)
    val flate = PdfWriter.encodeOne(PdfWriter.FlateF, text)
    val lzw = PdfWriter.encodeOne(PdfWriter.LzwF, text)
    val adapters: Seq[(Array[Byte], Array[Byte] => Any)] = Seq(
      png -> (Png.decode(_)),
      tiffDeflate -> (Tiff.decode(_)),
      Tiff.encodeCompressed(pix, 24, 16, 1, 5, rowsPerStrip = 5) -> (Tiff.decode(_)),
      Tiff.Lzw.encode(pix) -> (m => Tiff.Lzw.decode(m, pix.length)),
      flate -> (m => try PdfParser.inflate(m) catch { case _: PdfParser.PdfError => () }),
      lzw -> (m => for (e <- 0 to 1) try PdfParser.lzw(m, e) catch { case _: PdfParser.PdfError => () }),
      Warc.deflateEncode(text) -> (Warc.contentDecode("deflate", _)),
      Warc.deflateEncode(text, zlibWrapper = false) -> (Warc.contentDecode("deflate", _)))
    val hostile = Seq(hostilePng, fdictAt(tiffDeflate, 8), fdict(flate),
      fdict(Warc.deflateEncode(text)))
    val run = Future {
      for ((seed, decode) <- adapters) {
        for (m <- mutations(seed, 300)) decode(m)
        for (_ <- 0 until 20) decode(fdict(seed))
      }
      for ((seed, decode) <- adapters; h <- hostile) decode(h)
      (Png.decode(hostile(0)), Tiff.decode(hostile(1)))
    }(ExecutionContext.global)
    // the FDICT splices reach the inflate: the formats' truncated errors
    assert(Await.result(run, 30.seconds) == ((Left("png: truncated IDAT"), Left("tiff: deflate truncated"))))
  }
}
