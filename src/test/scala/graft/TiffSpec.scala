package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{CcittG4, Jpeg, JpegEncoder, Streams, Tiff}
import TiffSpec._

/** TIFF codec tests. Lossless container, so uncompressed and G4 paths
  * are bit-exact; the independent oracle is the JDK's ImageIO TIFF
  * plugin (shares no code with ours), exercised in BOTH directions —
  * including its big-endian output, multi-strip layouts, and its own
  * G4 compressor/decompressor.
  */
class TiffSpec extends AnyFunSuite {

  private def rng(seed: Long) = new scala.util.Random(seed)

  private def imageIoTiff(im: java.awt.image.BufferedImage,
      compression: Option[String] = None): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val p = wr.getDefaultWriteParam
    compression.foreach { c =>
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(c)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(im, null, null), p)
    ios.close(); wr.dispose()
    bos.toByteArray
  }

  test("encode -> decode round-trips bit-exactly (gray/RGB, single and multi-strip)") {
    val r = rng(1)
    for {
      (w, h, nc) <- Seq((17, 9, 1), (64, 16, 3), (1, 1, 1), (3, 200, 3))
      rps <- Seq(Int.MaxValue, 1, 5)
    } {
      val pix = Array.fill[Byte](w * h * nc)(r.nextInt(256).toByte)
      val im = Tiff.decode(Tiff.encode(pix, w, h, nc, rps)).fold(e => fail(e), identity)
      assert(im.width == w && im.height == h && im.nComponents == nc, s"$w x $h nc=$nc rps=$rps")
      assert(java.util.Arrays.equals(im.pixels, pix), s"$w x $h nc=$nc rps=$rps")
    }
  }

  test("our TIFF bytes decode under ImageIO bit-exactly (incl. multi-strip)") {
    val r = rng(2)
    val w = 41; val h = 23
    for (rps <- Seq(Int.MaxValue, 7)) {
      val pix = Array.fill[Byte](w * h * 3)(r.nextInt(256).toByte)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Tiff.encode(pix, w, h, 3, rps)))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = ref.getRGB(x, y)
        val base = (y * w + x) * 3
        assert(((argb >> 16) & 0xff) == (pix(base) & 0xff), s"r at $x,$y rps=$rps")
        assert(((argb >> 8) & 0xff) == (pix(base + 1) & 0xff))
        assert((argb & 0xff) == (pix(base + 2) & 0xff))
      }
      val gray = Array.fill[Byte](w * h)(r.nextInt(256).toByte)
      val gref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Tiff.encode(gray, w, h, 1, rps)))
      assert(gref != null && gref.getWidth == w && gref.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(gref.getRaster.getSample(x, y, 0) == (gray(y * w + x) & 0xff), s"gray $x,$y rps=$rps")
    }
  }

  test("ImageIO-written TIFFs (big-endian container) decode bit-exactly under ours") {
    for ((typ, nc) <- Seq(
        (java.awt.image.BufferedImage.TYPE_BYTE_GRAY, 1),
        (java.awt.image.BufferedImage.TYPE_INT_RGB, 3))) {
      val w = 57; val h = 33
      val buf = new java.awt.image.BufferedImage(w, h, typ)
      for (y <- 0 until h; x <- 0 until w) {
        if (nc == 1) buf.getRaster.setSample(x, y, 0, (x * 5 + y * 11) % 256)
        else buf.setRGB(x, y, (((x * 4) % 256) << 16) | (((y * 7) % 256) << 8) | ((x + y) % 256))
      }
      val im = Tiff.decode(imageIoTiff(buf)).fold(e => fail(e), identity)
      assert(im.width == w && im.height == h && im.nComponents == nc)
      for (y <- 0 until h; x <- 0 until w) {
        if (nc == 1)
          assert((im.pixels(y * w + x) & 0xff) == buf.getRaster.getSample(x, y, 0))
        else {
          val argb = buf.getRGB(x, y)
          val base = (y * w + x) * 3
          assert((im.pixels(base) & 0xff) == ((argb >> 16) & 0xff), s"r at $x,$y")
          assert((im.pixels(base + 1) & 0xff) == ((argb >> 8) & 0xff))
          assert((im.pixels(base + 2) & 0xff) == (argb & 0xff))
        }
      }
    }
  }

  test("G4 TIFF: ours decodes under ImageIO and ImageIO's decodes under ours") {
    val r = rng(4)
    val w = 64; val h = 20
    val bilevel = Array.tabulate[Byte](w * h) { i =>
      if ((i % w) / 4 % 2 == (i / w) / 3 % 2 || r.nextDouble() < 0.1) 1 else 0
    }
    // ours -> ImageIO (single and multi-strip)
    for (rps <- Seq(Int.MaxValue, 6)) {
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Tiff.encodeG4(bilevel, w, h, rps)))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h, s"rps=$rps")
      for (y <- 0 until h; x <- 0 until w) {
        val black = (ref.getRGB(x, y) & 0xff) < 128
        assert(black == (bilevel(y * w + x) == 1), s"at $x,$y rps=$rps")
      }
    }
    // ImageIO -> ours
    val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, if (bilevel(y * w + x) == 1) 0x000000 else 0xffffff)
    val ours = Tiff.decode(imageIoTiff(im, Some("CCITT T.6"))).fold(e => fail(e), identity)
    assert(ours.width == w && ours.height == h && ours.nComponents == 1)
    for (y <- 0 until h; x <- 0 until w)
      assert(((ours.pixels(y * w + x) & 0xff) < 128) == (bilevel(y * w + x) == 1), s"at $x,$y")
  }

  test("round-trip through our G4 leg is bit-exact") {
    val w = 33; val h = 11
    val bilevel = Array.tabulate[Byte](w * h)(i => (((i % w) + 2 * (i / w)) % 5 / 3).toByte)
    val im = Tiff.decode(Tiff.encodeG4(bilevel, w, h, 4)).fold(e => fail(e), identity)
    assert(im.width == w && im.height == h)
    for (i <- 0 until w * h)
      assert(((im.pixels(i) & 0xff) == 0) == (bilevel(i) == 1), s"at $i")
  }

  test("LZW and PackBits round-trip bit-exactly (multi-strip, predictor on/off)") {
    val r = rng(5)
    for {
      (w, h, nc) <- Seq((23, 11, 1), (16, 9, 3), (1, 1, 1))
      comp <- Seq(5, 32773)
      pred <- Seq(false, true)
      rps <- Seq(Int.MaxValue, 4)
    } {
      // half smooth gradient (LZW-friendly, predictor-meaningful), half noise
      val pix = Array.tabulate[Byte](w * h * nc) { i =>
        if (i % 2 == 0) ((i / nc) % 256).toByte else r.nextInt(256).toByte
      }
      val bytes = Tiff.encodeCompressed(pix, w, h, nc, comp, rps, pred)
      val im = Tiff.decode(bytes).fold(e => fail(s"comp=$comp pred=$pred rps=$rps: $e"), identity)
      assert(im.width == w && im.height == h && im.nComponents == nc)
      assert(java.util.Arrays.equals(im.pixels, pix), s"comp=$comp pred=$pred rps=$rps $w x $h nc=$nc")
    }
  }

  test("our LZW/PackBits TIFFs decode under ImageIO bit-exactly") {
    val r = rng(6)
    val w = 37; val h = 19
    val pix = Array.tabulate[Byte](w * h * 3)(i => if (i % 3 == 0) (i % 256).toByte else r.nextInt(256).toByte)
    for ((comp, pred) <- Seq((5, false), (5, true), (32773, false))) {
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Tiff.encodeCompressed(pix, w, h, 3, comp, rowsPerStrip = 7, predictor = pred)))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h, s"comp=$comp pred=$pred")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = ref.getRGB(x, y)
        val base = (y * w + x) * 3
        assert(((argb >> 16) & 0xff) == (pix(base) & 0xff), s"comp=$comp pred=$pred r at $x,$y")
        assert(((argb >> 8) & 0xff) == (pix(base + 1) & 0xff))
        assert((argb & 0xff) == (pix(base + 2) & 0xff))
      }
    }
  }

  test("ImageIO-written LZW and PackBits TIFFs decode bit-exactly under ours") {
    for (comp <- Seq("LZW", "PackBits")) {
      val w = 45; val h = 27
      val buf = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        buf.setRGB(x, y, (((x * 3 + y) % 256) << 16) | (((y * 9) % 256) << 8) | ((x * x + y) % 256))
      val im = Tiff.decode(imageIoTiff(buf, Some(comp))).fold(e => fail(s"$comp: $e"), identity)
      assert(im.width == w && im.height == h && im.nComponents == 3, comp)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = buf.getRGB(x, y)
        val base = (y * w + x) * 3
        assert((im.pixels(base) & 0xff) == ((argb >> 16) & 0xff), s"$comp r at $x,$y")
        assert((im.pixels(base + 1) & 0xff) == ((argb >> 8) & 0xff))
        assert((im.pixels(base + 2) & 0xff) == (argb & 0xff))
      }
    }
  }

  test("Deflate (ZLib) strips round-trip and differential both ways vs ImageIO") {
    val r = rng(8)
    val w = 29; val h = 17
    val pix = Array.fill[Byte](w * h * 3)(r.nextInt(256).toByte)
    for (pred <- Seq(false, true)) {
      val bytes = Tiff.encodeCompressed(pix, w, h, 3, 8, rowsPerStrip = 5, predictor = pred)
      val im = Tiff.decode(bytes).fold(e => fail(s"pred=$pred: $e"), identity)
      assert(java.util.Arrays.equals(im.pixels, pix), s"pred=$pred")
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(ref != null && ref.getWidth == w, s"pred=$pred imageio")
      val argb = ref.getRGB(3, 4)
      assert(((argb >> 16) & 0xff) == (pix((4 * w + 3) * 3) & 0xff), s"pred=$pred")
    }
    // their ZLib writer -> our reader
    val buf = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      buf.setRGB(x, y, (((x * 11) % 256) << 16) | (((y * 3) % 256) << 8) | ((x * y) % 256))
    val im2 = Tiff.decode(imageIoTiff(buf, Some("ZLib"))).fold(e => fail(e), identity)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = buf.getRGB(x, y)
      val base = (y * w + x) * 3
      assert((im2.pixels(base) & 0xff) == ((argb >> 16) & 0xff), s"r at $x,$y")
      assert((im2.pixels(base + 2) & 0xff) == (argb & 0xff))
    }
  }

  test("tiled TIFFs: round-trip with edge padding and both ImageIO directions") {
    val r = rng(9)
    val w = 70; val h = 40 // not multiples of 16: edge tiles clip
    for ((nc, comp, pred) <- Seq((1, 1, false), (3, 5, true), (3, 8, false), (1, 32773, false))) {
      val pix = Array.fill[Byte](w * h * nc)(r.nextInt(256).toByte)
      val bytes = Tiff.encodeTiled(pix, w, h, nc, 32, 16, comp, pred)
      val im = Tiff.decode(bytes).fold(e => fail(s"nc=$nc comp=$comp: $e"), identity)
      assert(im.width == w && im.height == h && im.nComponents == nc)
      assert(java.util.Arrays.equals(im.pixels, pix), s"nc=$nc comp=$comp pred=$pred")
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h, s"nc=$nc comp=$comp imageio")
      for (y <- Seq(0, 15, 16, h - 1); x <- Seq(0, 31, 32, w - 1)) { // tile seams
        val want =
          if (nc == 1) ref.getRaster.getSample(x, y, 0)
          else (ref.getRGB(x, y) >> 16) & 0xff
        assert((pix((y * w + x) * nc) & 0xff) == want, s"nc=$nc comp=$comp seam $x,$y")
      }
    }
    // ImageIO-written tiled file -> our reader
    val w2 = 48; val h2 = 33
    val buf = new java.awt.image.BufferedImage(w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h2; x <- 0 until w2)
      buf.setRGB(x, y, (((x * 7) % 256) << 16) | (((y * 13) % 256) << 8) | ((x + 2 * y) % 256))
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val p = wr.getDefaultWriteParam
    p.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setTiling(16, 16, 0, 0)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(buf, null, null), p)
    ios.close(); wr.dispose()
    val im2 = Tiff.decode(bos.toByteArray).fold(e => fail(e), identity)
    assert(im2.width == w2 && im2.height == h2 && im2.nComponents == 3)
    for (y <- 0 until h2; x <- 0 until w2) {
      val argb = buf.getRGB(x, y)
      val base = (y * w2 + x) * 3
      assert((im2.pixels(base) & 0xff) == ((argb >> 16) & 0xff), s"tiled r at $x,$y")
      assert((im2.pixels(base + 1) & 0xff) == ((argb >> 8) & 0xff))
      assert((im2.pixels(base + 2) & 0xff) == (argb & 0xff))
    }
  }

  test("LZW width-boundary fencepost: every length through the 511/1023 regions round-trips") {
    // regression: when the FINAL add lands exactly on 2^w - 1 the decoder
    // widens before EOI and the encoder must follow (first caught at a
    // 254-byte tile; ImageIO read the same bytes fine — decoder lag
    // cancels the bump offset mid-stream but not at EOI)
    val r = rng(10)
    for (n <- (1 to 600) ++ (950 to 1200)) {
      val pat = Array.tabulate[Byte](n)(i => ((i * 7 + i / 48) % 256).toByte)
      val rnd = Array.fill[Byte](n)(r.nextInt(256).toByte)
      for (raw <- Seq(pat, rnd)) {
        val dec = graft.codec.Tiff.Lzw.decode(graft.codec.Streams.lzwEncode(raw, earlyChange = 1), n)
        assert(dec.exists(java.util.Arrays.equals(_, raw)), s"n=$n")
      }
    }
  }

  test("LZW table reset (noise past 4094 entries) round-trips and reads under ImageIO") {
    val r = rng(7)
    val w = 300; val h = 200 // 180k noise bytes: several dictionary resets
    val pix = Array.fill[Byte](w * h * 3)(r.nextInt(256).toByte)
    val bytes = Tiff.encodeCompressed(pix, w, h, 3, 5)
    val im = Tiff.decode(bytes).fold(e => fail(e), identity)
    assert(java.util.Arrays.equals(im.pixels, pix))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(ref != null && ref.getWidth == w && ref.getHeight == h)
    val y = h - 1
    for (x <- 0 until w) { // full compare is slow; last row crosses resets
      val argb = ref.getRGB(x, y)
      val base = (y * w + x) * 3
      assert(((argb >> 16) & 0xff) == (pix(base) & 0xff), s"r at $x,$y")
    }
  }

  /** Flat 8x8 blocks: DC-only JPEG content every conformant decoder
    * reconstructs identically — the exact class the JPEG differentials
    * and oracles use. */
  private def flatBlocks(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
    val pix = new Array[Byte](w * h)
    for (by <- 0 until h / 8; bx <- 0 until w / 8; y <- 0 until 8; x <- 0 until 8)
      pix((by * 8 + y) * w + bx * 8 + x) = f(bx, by).toByte
    pix
  }

  test("JPEG-in-TIFF: our strips round-trip bit-exactly and read under ImageIO") {
    val w = 32; val h = 48
    val pix = flatBlocks(w, h, (bx, by) => (40 * bx + 25 * by + 7) % 256)
    for (rps <- Seq(Int.MaxValue, 16)) {
      val bytes = graft.codec.Tiff.encodeJpeg(pix, w, h, rps)
      val im = Tiff.decode(bytes).fold(e => fail(s"rps=$rps: $e"), identity)
      assert(im.width == w && im.height == h && im.nComponents == 1)
      assert(java.util.Arrays.equals(im.pixels, pix), s"rps=$rps")
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h, s"rps=$rps imageio")
      for (y <- 0 until h; x <- 0 until w)
        assert(ref.getRaster.getSample(x, y, 0) == (pix(y * w + x) & 0xff), s"rps=$rps at $x,$y")
    }
  }

  test("ImageIO-written JPEG-in-TIFF (JPEGTables) decodes under ours matching their read") {
    for ((typ, nc) <- Seq(
        (java.awt.image.BufferedImage.TYPE_BYTE_GRAY, 1),
        (java.awt.image.BufferedImage.TYPE_INT_RGB, 3))) {
      val w = 32; val h = 24
      val buf = new java.awt.image.BufferedImage(w, h, typ)
      // flat 8x8 blocks: decoder-exact content even through their encoder
      for (by <- 0 until h / 8; bx <- 0 until w / 8) {
        val v = (30 * bx + 50 * by + 60) % 200 + 20
        for (y <- 0 until 8; x <- 0 until 8)
          if (nc == 1) buf.getRaster.setSample(bx * 8 + x, by * 8 + y, 0, v)
          else buf.setRGB(bx * 8 + x, by * 8 + y, (v << 16) | (v << 8) | v)
      }
      val bytes = imageIoTiff(buf, Some("JPEG"))
      val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val im = Tiff.decode(bytes).fold(e => fail(s"nc=$nc: $e"), identity)
      assert(im.width == w && im.height == h && im.nComponents == nc, s"nc=$nc")
      for (y <- 0 until h; x <- 0 until w; c <- 0 until nc) {
        val want =
          if (nc == 1) theirs.getRaster.getSample(x, y, 0)
          else (theirs.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        assert((im.pixels((y * w + x) * nc + c) & 0xff) == want, s"nc=$nc c=$c at $x,$y")
      }
    }
  }

  test("fences and malformed inputs fail closed") {
    assert(Tiff.decode(null).isLeft)
    assert(Tiff.decode(Array[Byte](1, 2, 3)).isLeft)
    assert(!Tiff.isTiff("II+garbage".getBytes("US-ASCII")))
    val good = Tiff.encode(Array.fill[Byte](64)(7), 8, 8, 1)
    assert(Tiff.decode(good).isRight)
    for (n <- Seq(4, 8, 20, good.length / 2, good.length - 3))
      assert(Tiff.decode(java.util.Arrays.copyOf(good, n)).isLeft, s"prefix $n decoded")
    // CCITT RLE (compression 2, the 1-D fax variant) is a documented fence
    val buf = new java.awt.image.BufferedImage(16, 8, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until 8; x <- 0 until 16) buf.setRGB(x, y, if ((x + y) % 2 == 0) 0 else 0xffffff)
    val z = Tiff.decode(imageIoTiff(buf, Some("CCITT RLE")))
    assert(z.isLeft && z.swap.exists(_.contains("unsupported")))
    // truncated LZW strips fail closed, not hang
    val lzw = Tiff.encodeCompressed(Array.fill[Byte](64)(9), 8, 8, 1, 5)
    for (n <- Seq(lzw.length - 3, lzw.length / 2))
      assert(Tiff.decode(java.util.Arrays.copyOf(lzw, n)).isLeft, s"lzw prefix $n decoded")
  }

  test("a deflate strip whose zlib header asks for a preset dictionary (FDICT) is truncated within 5 s, not a spin") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val good = Tiff.encodeCompressed(Array.tabulate[Byte](64)(i => (i * 3).toByte), 8, 8, 1, 8)
    // the one strip starts right after the 8-byte header: 78 9c
    assert((good(8) & 0xff) == 0x78 && (good(9) & 0xff) == 0x9c)
    val fdict = good.clone()
    fdict(9) = 0x20 // 0x7820 % 31 == 0 with the FDICT bit set
    val r = Await.result(Future(Tiff.decode(fdict))(ExecutionContext.global), 5.seconds)
    assert(r == Left("tiff: deflate truncated"))
  }

  test("encoders write the old writers' bytes: sweep, spec, fuzz, bench and q205/q211/q216 arguments") {
    val wrong = encoderCases.filterNot { case (_, enc) =>
      (scala.util.Try(enc(NewEncoders)), scala.util.Try(enc(OldEncoders))) match {
        case (scala.util.Success(a), scala.util.Success(b)) => a.sameElements(b)
        case (scala.util.Failure(a), scala.util.Failure(b)) => a.getClass == b.getClass
        case _ => false
      }
    }.map(_._1)
    assert(encoderCases.length > 1500)
    assert(wrong.isEmpty, s"${wrong.length} of ${encoderCases.length} differ, first: ${wrong.take(5)}")
  }

  test("decode differential: one chunk loop against the old strip and tile loops") {
    val counts = scala.collection.mutable.TreeMap.empty[String, Int].withDefaultValue(0)
    val imageIo = {
      val gray = new java.awt.image.BufferedImage(45, 27, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val rgb = new java.awt.image.BufferedImage(45, 27, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bilevel = new java.awt.image.BufferedImage(45, 27, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
      for (y <- 0 until 27; x <- 0 until 45) {
        gray.getRaster.setSample(x, y, 0, (x * 5 + y * 11) % 256)
        rgb.setRGB(x, y, (((x / 8) * 40 % 256) << 16) | (((y / 8) * 60 % 256) << 8) | ((x + y) % 256))
        bilevel.setRGB(x, y, if ((x + 2 * y) % 5 < 2) 0 else 0xffffff)
      }
      Seq("imageio gray" -> imageIoTiff(gray), "imageio rgb" -> imageIoTiff(rgb),
        "imageio lzw" -> imageIoTiff(rgb, Some("LZW")), "imageio zlib" -> imageIoTiff(gray, Some("ZLib")),
        "imageio jpeg gray" -> imageIoTiff(gray, Some("JPEG")),
        "imageio jpeg rgb" -> imageIoTiff(rgb, Some("JPEG")),
        "imageio g4" -> imageIoTiff(bilevel, Some("CCITT T.6")))
    }
    (differentialShapes ++ imageIo).foreach { case (shape, good) =>
      inputs(shape, good).foreach { in =>
        val want = OldTiff.decode(in)
        val got = Tiff.decode(in)
        val kind = difference(want, got)
        assert(kind.nonEmpty, s"$shape: reference $want, now ${got.map(im => s"${im.width}x${im.height}")}")
        counts(kind.get) += 1
      }
    }
    info(counts.map { case (k, n) => s"$k: $n" }.mkString("; "))
    assert(counts("same") > 250000)
  }
}

object TiffSpec {

  /** The five encoders, through the one writer or the old two. */
  trait Encoders {
    def encode(p: Array[Byte], w: Int, h: Int, nc: Int, rps: Int): Array[Byte]
    def compressed(p: Array[Byte], w: Int, h: Int, nc: Int, comp: Int, rps: Int, pred: Boolean): Array[Byte]
    def tiled(p: Array[Byte], w: Int, h: Int, nc: Int, tw: Int, th: Int, comp: Int, pred: Boolean): Array[Byte]
    def g4(p: Array[Byte], w: Int, h: Int, rps: Int): Array[Byte]
    def jpeg(p: Array[Byte], w: Int, h: Int, rps: Int): Array[Byte]
  }
  object NewEncoders extends Encoders {
    def encode(p: Array[Byte], w: Int, h: Int, nc: Int, rps: Int) = Tiff.encode(p, w, h, nc, rps)
    def compressed(p: Array[Byte], w: Int, h: Int, nc: Int, comp: Int, rps: Int, pred: Boolean) =
      Tiff.encodeCompressed(p, w, h, nc, comp, rps, pred)
    def tiled(p: Array[Byte], w: Int, h: Int, nc: Int, tw: Int, th: Int, comp: Int, pred: Boolean) =
      Tiff.encodeTiled(p, w, h, nc, tw, th, comp, pred)
    def g4(p: Array[Byte], w: Int, h: Int, rps: Int) = Tiff.encodeG4(p, w, h, rps)
    def jpeg(p: Array[Byte], w: Int, h: Int, rps: Int) = Tiff.encodeJpeg(p, w, h, rps)
  }
  object OldEncoders extends Encoders {
    def encode(p: Array[Byte], w: Int, h: Int, nc: Int, rps: Int) = OldTiff.encode(p, w, h, nc, rps)
    def compressed(p: Array[Byte], w: Int, h: Int, nc: Int, comp: Int, rps: Int, pred: Boolean) =
      OldTiff.encodeCompressed(p, w, h, nc, comp, rps, pred)
    def tiled(p: Array[Byte], w: Int, h: Int, nc: Int, tw: Int, th: Int, comp: Int, pred: Boolean) =
      OldTiff.encodeTiled(p, w, h, nc, tw, th, comp, pred)
    def g4(p: Array[Byte], w: Int, h: Int, rps: Int) = OldTiff.encodeG4(p, w, h, rps)
    def jpeg(p: Array[Byte], w: Int, h: Int, rps: Int) = OldTiff.encodeJpeg(p, w, h, rps)
  }

  type Case = (String, Encoders => Array[Byte])

  private def noise(seed: Long, n: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.tabulate[Byte](n)(i => if (i % 3 == 0) (i / 3).toByte else r.nextInt(256).toByte)
  }
  private def bilevel(w: Int, h: Int): Array[Byte] =
    Array.tabulate[Byte](w * h)(i => if ((i % w + 3 * (i / w)) % 7 < 3) 1 else 0)
  private def flat(w: Int, h: Int): Array[Byte] =
    Array.tabulate[Byte](w * h)(i => ((i % w / 8) * 40 + (i / w / 8) * 25 + 7).toByte)

  /** Strips: gray/RGB x compression {1, 5, 8, 32773} x predictor x
    * RowsPerStrip {1, 3, height}; tiles {16, 32} x {16, 48} with edge
    * tiles; G4 and JPEG strips. */
  def sweep(w: Int, h: Int): Seq[Case] = {
    val strips = for {
      nc <- Seq(1, 3); rps <- Seq(1, 3, h)
      (comp, pred) <- Seq((1, false)) ++ (for (c <- Seq(5, 8, 32773); p <- Seq(false, true)) yield (c, p))
    } yield {
      val pix = noise(w * 31 + h, w * h * nc)
      s"strips ${w}x$h nc=$nc comp=$comp pred=$pred rps=$rps" -> ((e: Encoders) =>
        if (comp == 1) e.encode(pix, w, h, nc, rps) else e.compressed(pix, w, h, nc, comp, rps, pred))
    }
    val tiles = for {
      nc <- Seq(1, 3); tw <- Seq(16, 32); th <- Seq(16, 48)
      comp <- Seq(1, 5, 8, 32773); pred <- Seq(false, true)
    } yield {
      val pix = noise(w * 17 + h, w * h * nc)
      s"tiles ${w}x$h nc=$nc ${tw}x$th comp=$comp pred=$pred" -> ((e: Encoders) =>
        e.tiled(pix, w, h, nc, tw, th, comp, pred))
    }
    val fax = for (rps <- Seq(1, 3, h))
      yield s"g4 ${w}x$h rps=$rps" -> ((e: Encoders) => e.g4(bilevel(w, h), w, h, rps))
    val jpeg = for (rps <- Seq(8, 16, h))
      yield s"jpeg ${w}x$h rps=$rps" -> ((e: Encoders) => e.jpeg(flat(w, h), w, h, rps))
    strips ++ tiles ++ fax ++ jpeg
  }

  /** Queries' raster: f(x, y, channel) per sample. */
  private def raster(w: Int, h: Int, c: Int = 1)(f: (Int, Int, Int) => Long): Array[Byte] =
    Array.tabulate[Byte](w * h * c)(i => f(i / c % w, i / c / w, i % c).toByte)

  /** The q205, q211 and q216 generators over sf0.01's doc ids. */
  private def queryCases: Seq[Case] = (0L until 500L).flatMap { id =>
    val q205: Case = (id % 3) match {
      case 0 =>
        val w = 12 + (id % 5).toInt; val h = 7 + (id % 4).toInt
        val pix = raster(w, h)((x, y, _) => (id * 7 + x + 5 * y) % 256)
        s"q205 $id" -> (_.compressed(pix, w, h, 1, 5, 3, pred = true))
      case 1 =>
        val w = 6 + (id % 3).toInt; val h = 5
        val pix = raster(w, h, 3)((x, y, k) =>
          Seq(id + x * 3 + y, id * 2 + x + y * 5, id * 4 + x * 7 + y * 2)(k) % 256)
        s"q205 $id" -> (_.compressed(pix, w, h, 3, 32773, Int.MaxValue, pred = false))
      case _ =>
        val w = 24 + (id % 3).toInt * 8; val h = 9 + (id % 4).toInt
        val pix = raster(w, h)((x, y, _) => if ((x + 3 * y + id) % 7 < 3) 1 else 0)
        s"q205 $id" -> (_.g4(pix, w, h, 4))
    }
    val q211: Case = {
      val w = (2 + (id % 3).toInt) * 8; val h = (2 + (id % 4).toInt) * 8
      val pix = raster(w, h)((x, y, _) => (id * 19 + (x / 8) * 7 + (y / 8) * 3) % 256)
      s"q211 $id" -> (_.jpeg(pix, w, h, 16))
    }
    val q216: Case = (id % 2) match {
      case 0 =>
        val w = 40 + (id % 3).toInt * 9; val h = 20 + (id % 5).toInt * 7
        val pix = raster(w, h)((x, y, _) => (id * 11 + x * 3 + y * 5) % 256)
        s"q216 $id" -> (_.tiled(pix, w, h, 1, 32, 16, 8, pred = true))
      case _ =>
        val w = 33 + (id % 4).toInt; val h = 18
        val pix = raster(w, h, 3)((x, y, k) =>
          Seq(id * 2 + x + y * 7, id * 3 + x * 5 + y, id * 5 + x * 2 + y * 3)(k) % 256)
        s"q216 $id" -> (_.tiled(pix, w, h, 3, 16, 16, 5, pred = false))
    }
    Seq(q205, q211, q216)
  }

  /** TiffSpec's own argument sets, FuzzCampaign's TIFF seeds and Bench's. */
  private def specCases: Seq[Case] =
    (for ((w, h, nc) <- Seq((17, 9, 1), (64, 16, 3), (1, 1, 1), (3, 200, 3), (41, 23, 3), (41, 23, 1), (8, 8, 1), (16, 16, 3));
      rps <- Seq(Int.MaxValue, 1, 5, 7))
      yield s"encode ${w}x$h nc=$nc rps=$rps" -> ((e: Encoders) => e.encode(noise(1, w * h * nc), w, h, nc, rps))) ++
    (for ((w, h, nc) <- Seq((23, 11, 1), (16, 9, 3), (1, 1, 1), (37, 19, 3), (29, 17, 3), (32, 24, 1), (24, 16, 3),
        (300, 200, 3), (8, 8, 1));
      comp <- Seq(5, 8, 32773); pred <- Seq(false, true); rps <- Seq(Int.MaxValue, 4, 5, 6, 7, 8))
      yield s"compressed ${w}x$h nc=$nc comp=$comp pred=$pred rps=$rps" ->
        ((e: Encoders) => e.compressed(noise(2, w * h * nc), w, h, nc, comp, rps, pred))) ++
    (for ((w, h, nc, tw, th) <- Seq((70, 40, 1, 32, 16), (70, 40, 3, 32, 16), (37, 29, 1, 16, 16), (37, 29, 3, 32, 16));
      comp <- Seq(1, 5, 8, 32773); pred <- Seq(false, true))
      yield s"tiled ${w}x$h nc=$nc ${tw}x$th comp=$comp pred=$pred" ->
        ((e: Encoders) => e.tiled(noise(3, w * h * nc), w, h, nc, tw, th, comp, pred))) ++
    (for ((w, h) <- Seq((64, 20), (33, 11), (32, 24)); rps <- Seq(Int.MaxValue, 4, 6, 8))
      yield s"g4 ${w}x$h rps=$rps" -> ((e: Encoders) => e.g4(bilevel(w, h), w, h, rps))) ++
    (for (rps <- Seq(Int.MaxValue, 16, 8))
      yield s"jpeg 32x48 rps=$rps" -> ((e: Encoders) => e.jpeg(flat(32, 48), 32, 48, rps)))

  def encoderCases: Seq[Case] =
    (for ((w, h) <- Seq((1, 1), (19, 7), (37, 53)); c <- sweep(w, h)) yield c) ++
      specCases ++ queryCases

  /** One file of every encoder shape: strips at 23 x 11, tiles at 37 x 53
    * (edge tiles on both axes), G4 and JPEG strips. */
  def differentialShapes: Seq[(String, Array[Byte])] =
    (sweep(23, 11).filter(c => !c._1.startsWith("tiles")) ++
      sweep(37, 53).filter(_._1.startsWith("tiles")) ++
      sweep(32, 24).filter(c => c._1.startsWith("g4") || c._1.startsWith("jpeg")))
      .map { case (name, enc) => name -> enc(NewEncoders) }

  /** 2,000 seeded 1-3-byte mutations, every other one inside the IFD and
    * its out-of-line arrays, then truncations: a stride over the file and
    * every length of its last 256 bytes. */
  def inputs(shape: String, good: Array[Byte]): Iterator[Array[Byte]] = {
    val rng = new scala.util.Random(shape.hashCode)
    val le = good(0) == 'I'
    val ifd = ((0 until 4).map(k => (good(4 + k) & 0xffL) << (8 * (if (le) k else 3 - k))).sum).toInt
    val mutated = Iterator.tabulate(2000) { i =>
      val m = good.clone()
      (0 to i % 3).foreach { _ =>
        val at =
          if (i % 2 == 0 || ifd >= good.length) rng.nextInt(m.length)
          else ifd + rng.nextInt(math.min(good.length - ifd, 400))
        m(at) = rng.nextInt(256).toByte
      }
      m
    }
    val cuts = ((0 until good.length by math.max(1, good.length / 200)) ++
      (math.max(0, good.length - 256) until good.length)).distinct
    mutated ++ cuts.iterator.map(n => java.util.Arrays.copyOf(good, n))
  }

  /** A Left made from a thrown exception: its class. Only the class is
    * compared, because the JIT's preallocated implicit exceptions carry
    * no message once a throw site is hot. */
  private val Thrown = "tiff: (\\w+Exception): .*".r
  private val EightBit = "tiff: [0-9/]*-bit samples unsupported \\(8-bit only\\)"

  /** How the new decode may differ from the reference's: the kind of
    * difference, or None where it must not differ. */
  def difference(want: Either[String, Jpeg.Image], got: Either[String, Jpeg.Image]): Option[String] =
    (want, got) match {
      case (Right(a), Right(b)) if a.width == b.width && a.height == b.height &&
        a.nComponents == b.nComponents && a.pixels.sameElements(b.pixels) => Some("same")
      case (Left(Thrown(a)), Left(Thrown(b))) if a == b => Some(s"same $a")
      case (Left(a), Left(b)) if a == b => Some("same")
      case (Left("tiff: tiles must be 8-bit"), Left(b)) if b.matches(EightBit) =>
        Some("renamed tiles must be 8-bit")
      case (Left("tiff: JPEG strips must be 8-bit"), Left(b)) if b.matches(EightBit) =>
        Some("renamed JPEG strips must be 8-bit")
      case _ => None
    }
}

/** The parent's TIFF decoder and its two writers with the five encoders
  * that fed them, verbatim: the differential reference for [[Tiff]]'s one
  * chunk loop and one IFD writer. */
private object OldTiff {

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"tiff: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  // one parsed IFD entry: type + count + either inline value or offset
  private final case class Entry(typ: Int, count: Long, valOff: Int)

  def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!Tiff.isTiff(b)) return Left("tiff: bad header")
    val le = b(0) == 'I'
    def u16(p: Int): Int =
      if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (le) (u16(p).toLong) | (u16(p + 2).toLong << 16)
      else (u16(p).toLong << 16) | u16(p + 2).toLong

    val ifdOff = u32(4)
    if (ifdOff < 8 || ifdOff + 2 > b.length) return Left("tiff: bad IFD offset")
    val nEntries = u16(ifdOff.toInt)
    val base = ifdOff.toInt + 2
    // the IFD ends with a 4-byte next-IFD pointer — require it too
    if (base + nEntries * 12 + 4 > b.length) return Left("tiff: IFD overruns file")

    val entries = new java.util.HashMap[Integer, Entry]()
    var i = 0
    while (i < nEntries) {
      val p = base + i * 12
      entries.put(u16(p), Entry(u16(p + 2), u32(p + 4), p + 8))
      i += 1
    }

    def typeSize(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
      case 3 | 8         => 2 // SHORT/SSHORT
      case 4 | 9         => 4 // LONG/SLONG
      case 5 | 10        => 8 // RATIONAL
      case _             => 0
    }

    /** All values of a tag as longs (SHORT/LONG only), or null if absent. */
    def values(tag: Int): Array[Long] = {
      val e = entries.get(tag)
      if (e == null) return null
      val sz = typeSize(e.typ)
      if (sz == 0 || (e.typ != 3 && e.typ != 4)) return null
      val total = sz * e.count
      if (e.count < 0 || e.count > 65536) return null
      val at = if (total <= 4) e.valOff else {
        val off = u32(e.valOff)
        if (off + total > b.length) return null
        off.toInt
      }
      Array.tabulate(e.count.toInt) { k =>
        if (e.typ == 3) u16(at + 2 * k).toLong else u32(at + 4 * k)
      }
    }
    def scalar(tag: Int, default: Long = -1L): Long = {
      val v = values(tag)
      if (v == null || v.isEmpty) default else v(0)
    }
    /** Raw value bytes of a BYTE/UNDEFINED tag (JPEGTables), or null. */
    def rawBytes(tag: Int): Array[Byte] = {
      val e = entries.get(tag)
      if (e == null || typeSize(e.typ) != 1) return null
      if (e.count < 0 || e.count > (1 << 20)) return null
      val total = e.count.toInt
      val at = if (total <= 4) e.valOff else {
        val off = u32(e.valOff)
        if (off + total > b.length) return null
        off.toInt
      }
      java.util.Arrays.copyOfRange(b, at, at + total)
    }

    val width = scalar(256).toInt
    val height = scalar(257).toInt
    if (width <= 0 || height <= 0) return Left("tiff: bad dimensions")
    // 64M-sample ceiling (3 samples/px max): crafted IFDs become error
    // rows, not multi-GB allocations (the shared codec alloc discipline)
    if (width.toLong * height > Streams.MaxDecodedBytes / 4) return Left("tiff: image too large")
    val compression = scalar(259, 1L).toInt
    val photometric = scalar(262).toInt
    val spp = scalar(277, 1L).toInt
    val bits = values(258) match {
      case null => Array.fill(spp)(1L) // default BitsPerSample = 1
      case v    => v
    }
    val planar = scalar(284, 1L).toInt
    val fillOrder = scalar(266, 1L).toInt
    val predictor = scalar(317, 1L).toInt
    if (planar != 1) return Left("tiff: planar configuration 2 unsupported")
    if (fillOrder != 1) return Left("tiff: FillOrder 2 unsupported")
    if (predictor != 1 && predictor != 2) return Left(s"tiff: predictor $predictor unsupported")
    if (predictor == 2 && !Set(1, 5, 8, 32946, 32773).contains(compression))
      return Left("tiff: predictor with this compression unsupported")

    // ---- tiled layout (tags 322-325): 8-bit gray/RGB only ----
    if (entries.containsKey(322) || entries.containsKey(323)) {
      val tw = scalar(322).toInt; val th = scalar(323).toInt
      val tileOffsets = values(324); val tileCounts = values(325)
      if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0)
        return Left("tiff: bad tile size")
      if (tileOffsets == null || tileCounts == null ||
        tileOffsets.length != tileCounts.length)
        return Left("tiff: missing tile tags")
      if (!Set(1, 5, 8, 32946, 32773).contains(compression))
        return Left(s"tiff: compression $compression unsupported for tiles")
      if (!bits.forall(_ == 8L)) return Left("tiff: tiles must be 8-bit")
      if (spp != 1 && spp != 3) return Left(s"tiff: $spp samples/pixel unsupported")
      if (spp == 1 && photometric != 0 && photometric != 1)
        return Left(s"tiff: photometric $photometric unsupported for gray")
      if (spp == 3 && photometric != 2) return Left(s"tiff: photometric $photometric unsupported for RGB")
      val across = (width + tw - 1) / tw
      val down = (height + th - 1) / th
      if (tileOffsets.length != across * down)
        return Left("tiff: tile count inconsistent with dimensions")
      val tileRowBytes = tw * spp
      val rowBytes = width * spp
      val out = new Array[Byte](rowBytes * height)
      var t = 0
      while (t < tileOffsets.length) {
        val off = tileOffsets(t); val len = tileCounts(t)
        if (off < 0 || len < 0 || off + len > b.length) return Left("tiff: tile overruns file")
        val data = java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
        val raw = Tiff.decompressChunk(data, tileRowBytes * th, compression) match {
          case Left(e)  => return Left(e)
          case Right(d) => d
        }
        if (raw.length < tileRowBytes * th) return Left("tiff: tile too short")
        if (predictor == 2) { // per tile row, over the FULL padded tile width
          var r = 0
          while (r < th) {
            var j = r * tileRowBytes + spp
            val end = (r + 1) * tileRowBytes
            while (j < end) { raw(j) = (raw(j) + raw(j - spp)).toByte; j += 1 }
            r += 1
          }
        }
        val tx = (t % across) * tw
        val ty = (t / across) * th
        val copyW = math.min(tw, width - tx) * spp
        val copyH = math.min(th, height - ty)
        var r = 0
        while (r < copyH) {
          System.arraycopy(raw, r * tileRowBytes, out, (ty + r) * rowBytes + tx * spp, copyW)
          r += 1
        }
        t += 1
      }
      if (spp == 1 && photometric == 0) {
        var j = 0
        while (j < out.length) { out(j) = (255 - (out(j) & 0xff)).toByte; j += 1 }
      }
      return Right(Jpeg.Image(width, height, spp, out))
    }

    val stripOffsets = values(273)
    val stripCounts = values(279)
    if (stripOffsets == null || stripCounts == null ||
      stripOffsets.length != stripCounts.length || stripOffsets.isEmpty)
      return Left("tiff: missing strip tags")
    val rowsPerStrip = {
      val r = scalar(278, 0xffffffffL)
      if (r <= 0 || r > height) height.toLong else r
    }.toInt
    val nStrips = stripOffsets.length
    if (nStrips != (height + rowsPerStrip - 1) / rowsPerStrip)
      return Left("tiff: strip count inconsistent with RowsPerStrip")

    def strip(k: Int): Array[Byte] = {
      val off = stripOffsets(k); val len = stripCounts(k)
      if (off < 0 || len < 0 || off + len > b.length) null
      else java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
    }

    compression match {
      case 1 | 5 | 8 | 32946 | 32773 => // 8-bit gray/RGB: raw, LZW, Deflate, PackBits
        if (!bits.forall(_ == 8L)) return Left(s"tiff: ${bits.mkString("/")}-bit samples unsupported (8-bit only)")
        if (spp != 1 && spp != 3) return Left(s"tiff: $spp samples/pixel unsupported")
        if (spp == 1 && photometric != 0 && photometric != 1)
          return Left(s"tiff: photometric $photometric unsupported for gray")
        if (spp == 3 && photometric != 2) return Left(s"tiff: photometric $photometric unsupported for RGB")
        val rowBytes = width * spp
        val out = new Array[Byte](rowBytes * height)
        var row = 0
        var k = 0
        while (k < nStrips) {
          val s = strip(k)
          if (s == null) return Left("tiff: strip overruns file")
          val rows = math.min(rowsPerStrip, height - row)
          val raw = Tiff.decompressChunk(s, rows * rowBytes, compression) match {
            case Left(e)  => return Left(e)
            case Right(d) => d
          }
          if (raw.length < rows * rowBytes) return Left("tiff: strip too short")
          System.arraycopy(raw, 0, out, row * rowBytes, rows * rowBytes)
          if (predictor == 2) { // horizontal differencing, per strip row
            var r2 = row
            while (r2 < row + rows) {
              var j = r2 * rowBytes + spp
              val end = (r2 + 1) * rowBytes
              while (j < end) { out(j) = (out(j) + out(j - spp)).toByte; j += 1 }
              r2 += 1
            }
          }
          row += rows
          k += 1
        }
        if (spp == 1 && photometric == 0) { // MinIsWhite: invert to 0=black
          var j = 0
          while (j < out.length) { out(j) = (255 - (out(j) & 0xff)).toByte; j += 1 }
        }
        Right(Jpeg.Image(width, height, spp, out))

      case 4 => // CCITT G4 bilevel
        if (spp != 1 || bits(0) != 1L) return Left("tiff: G4 requires 1-bit single-sample data")
        if (photometric != 0 && photometric != 1)
          return Left(s"tiff: photometric $photometric unsupported for bilevel")
        val out = new Array[Byte](width * height)
        var row = 0
        var k = 0
        while (k < nStrips) {
          val s = strip(k)
          if (s == null) return Left("tiff: strip overruns file")
          val rows = math.min(rowsPerStrip, height - row)
          CcittG4.decode(s, width, rows) match {
            case Left(e) => return Left(s"tiff: $e")
            case Right(bl) => // bl: 1 = black run bit
              var j = 0
              while (j < width * rows) {
                // photometric 0 (MinIsWhite): G4 black bit -> black pixel (0).
                // photometric 1 (MinIsBlack): the coded "black" bits are max
                // sample value, i.e. white — invert the sense.
                val black = if (photometric == 0) bl(j) == 1 else bl(j) == 0
                out(row * width + j) = if (black) 0 else 255.toByte
                j += 1
              }
          }
          row += rows
          k += 1
        }
        Right(Jpeg.Image(width, height, 1, out))

      case 7 => // new-style JPEG-in-TIFF: each strip is a JPEG stream,
        // shared tables optionally hoisted into tag 347 (JPEGTables)
        if (!bits.forall(_ == 8L)) return Left("tiff: JPEG strips must be 8-bit")
        if (spp != 1 && spp != 3) return Left(s"tiff: $spp samples/pixel unsupported")
        // gray: photometric 0/1; RGB: 2 (no transform) or 6 (YCbCr — the
        // JPEG decode already lands in RGB)
        if (spp == 1 && photometric != 0 && photometric != 1)
          return Left(s"tiff: photometric $photometric unsupported for gray JPEG")
        if (spp == 3 && photometric != 2 && photometric != 6)
          return Left(s"tiff: photometric $photometric unsupported for RGB JPEG")
        val tables = rawBytes(347)
        val rowBytes = width * spp
        val out = new Array[Byte](rowBytes * height)
        var row = 0
        var k = 0
        while (k < nStrips) {
          val s = strip(k)
          if (s == null) return Left("tiff: strip overruns file")
          val rows = math.min(rowsPerStrip, height - row)
          val stream: Array[Byte] =
            if (tables == null || tables.length < 4) s
            else {
              // abbreviated strip + abbreviated tables: SOI, tables'
              // payload (between ITS SOI and EOI), then the strip's
              // payload after its SOI
              if (s.length < 2 || (s(0) & 0xff) != 0xff || (s(1) & 0xff) != 0xd8)
                return Left("tiff: JPEG strip missing SOI")
              val tl = tables.length
              val tPayloadEnd =
                if ((tables(tl - 2) & 0xff) == 0xff && (tables(tl - 1) & 0xff) == 0xd9) tl - 2 else tl
              val merged = new Array[Byte](2 + (tPayloadEnd - 2) + (s.length - 2))
              merged(0) = 0xff.toByte; merged(1) = 0xd8.toByte
              System.arraycopy(tables, 2, merged, 2, tPayloadEnd - 2)
              System.arraycopy(s, 2, merged, tPayloadEnd, s.length - 2)
              merged
            }
          Jpeg.decode(stream) match {
            case Left(e) => return Left(s"tiff: $e")
            case Right(im) =>
              if (im.width != width || im.height != rows || im.nComponents != spp)
                return Left(s"tiff: JPEG strip is ${im.width}x${im.height}x${im.nComponents}, wanted ${width}x${rows}x$spp")
              System.arraycopy(im.pixels, 0, out, row * rowBytes, rows * rowBytes)
          }
          row += rows
          k += 1
        }
        if (spp == 1 && photometric == 0) {
          var j = 0
          while (j < out.length) { out(j) = (255 - (out(j) & 0xff)).toByte; j += 1 }
        }
        Right(Jpeg.Image(width, height, spp, out))

      case c => Left(s"tiff: compression $c unsupported")
    }
  }

  /** Encode 8-bit gray as new-style JPEG-in-TIFF (compression 7): each
    * strip a standalone baseline-JPEG stream from [[JpegEncoder]]. With
    * the exact quant table and flat 8x8 blocks the strips round-trip
    * bit-exactly, which is what lets SQL oracles state pixels. */
  def encodeJpeg(pixels: Array[Byte], width: Int, height: Int,
      rowsPerStrip: Int = Int.MaxValue,
      quant: Array[Int] = JpegEncoder.exactQuant): Array[Byte] = {
    require(pixels.length == width * height, "pixel buffer size mismatch")
    val rps = math.min(rowsPerStrip, height)
    require(rps >= 1, "RowsPerStrip must be positive")
    val nStrips = (height + rps - 1) / rps
    val strips = Array.tabulate(nStrips) { k =>
      val rows = math.min(rps, height - k * rps)
      JpegEncoder.encodeGray(java.util.Arrays.copyOfRange(pixels,
        k * rps * width, (k * rps + rows) * width), width, rows, quant)
    }
    writeTiff(width, height, 1, compression = 7, photometric = 1,
      bitsPerSample = 8, rps, strips)
  }

  /** Encode 8-bit gray (nc=1) or RGB (nc=3) as a little-endian
    * uncompressed TIFF with the given RowsPerStrip (multi-strip when
    * rowsPerStrip < height). */
  def encode(pixels: Array[Byte], width: Int, height: Int, nc: Int,
      rowsPerStrip: Int = Int.MaxValue): Array[Byte] = {
    require(nc == 1 || nc == 3, "gray or RGB only")
    require(pixels.length == width * height * nc, "pixel buffer size mismatch")
    val rps = math.min(rowsPerStrip, height)
    require(rps >= 1, "RowsPerStrip must be positive")
    val nStrips = (height + rps - 1) / rps
    val rowBytes = width * nc
    val strips = Array.tabulate(nStrips) { k =>
      val rows = math.min(rps, height - k * rps)
      java.util.Arrays.copyOfRange(pixels, k * rps * rowBytes, (k * rps + rows) * rowBytes)
    }
    writeTiff(width, height, nc, compression = 1, photometric = if (nc == 3) 2 else 1,
      bitsPerSample = 8, rps, strips)
  }

  /** Encode 8-bit gray or RGB with LZW (compression 5) or PackBits
    * (32773), optionally with the horizontal-differencing predictor
    * (LZW's usual companion) and multi-strip layout. */
  def encodeCompressed(pixels: Array[Byte], width: Int, height: Int, nc: Int,
      compression: Int, rowsPerStrip: Int = Int.MaxValue,
      predictor: Boolean = false): Array[Byte] = {
    require(nc == 1 || nc == 3, "gray or RGB only")
    require(pixels.length == width * height * nc, "pixel buffer size mismatch")
    require(compression == 5 || compression == 8 || compression == 32773,
      "LZW, Deflate, or PackBits")
    val rps = math.min(rowsPerStrip, height)
    require(rps >= 1, "RowsPerStrip must be positive")
    val nStrips = (height + rps - 1) / rps
    val rowBytes = width * nc
    val strips = Array.tabulate(nStrips) { k =>
      val rows = math.min(rps, height - k * rps)
      val raw = java.util.Arrays.copyOfRange(pixels, k * rps * rowBytes,
        (k * rps + rows) * rowBytes)
      if (predictor) { // horizontal differencing, per row (right to left)
        var r = 0
        while (r < rows) {
          var j = (r + 1) * rowBytes - 1
          while (j >= r * rowBytes + nc) { raw(j) = (raw(j) - raw(j - nc)).toByte; j -= 1 }
          r += 1
        }
      }
      compressChunk(raw, compression)
    }
    writeTiff(width, height, nc, compression, photometric = if (nc == 3) 2 else 1,
      bitsPerSample = 8, rps, strips, predictor = if (predictor) 2 else 1)
  }

  private def compressChunk(raw: Array[Byte], compression: Int): Array[Byte] =
    compression match {
      case 1 => raw
      case 5 => Streams.lzwEncode(raw, earlyChange = 1)
      case 8 => Streams.deflate(raw)
      case _ => Tiff.PackBits.encode(raw)
    }

  /** Encode 8-bit gray or RGB as a TILED TIFF (tags 322-325): the layout
    * large scanned/geo images actually ship, where random-access readers
    * fetch tiles instead of whole strips. Tile dims must be multiples of
    * 16 (the spec rule); edge tiles are zero-padded to full size. */
  def encodeTiled(pixels: Array[Byte], width: Int, height: Int, nc: Int,
      tileW: Int, tileH: Int, compression: Int = 1,
      predictor: Boolean = false): Array[Byte] = {
    require(nc == 1 || nc == 3, "gray or RGB only")
    require(pixels.length == width * height * nc, "pixel buffer size mismatch")
    require(tileW % 16 == 0 && tileH % 16 == 0 && tileW > 0 && tileH > 0,
      "tile dims must be positive multiples of 16")
    require(Set(1, 5, 8, 32773).contains(compression), "raw, LZW, Deflate, or PackBits")
    val across = (width + tileW - 1) / tileW
    val down = (height + tileH - 1) / tileH
    val tileRowBytes = tileW * nc
    val tiles = Array.tabulate(across * down) { t =>
      val tx = (t % across) * tileW
      val ty = (t / across) * tileH
      val raw = new Array[Byte](tileRowBytes * tileH)
      val copyW = math.min(tileW, width - tx) * nc
      val copyH = math.min(tileH, height - ty)
      var r = 0
      while (r < copyH) {
        System.arraycopy(pixels, (ty + r) * width * nc + tx * nc, raw, r * tileRowBytes, copyW)
        r += 1
      }
      if (predictor) {
        var r2 = 0
        while (r2 < tileH) {
          var j = (r2 + 1) * tileRowBytes - 1
          while (j >= r2 * tileRowBytes + nc) { raw(j) = (raw(j) - raw(j - nc)).toByte; j -= 1 }
          r2 += 1
        }
      }
      compressChunk(raw, compression)
    }
    writeTiffTiled(width, height, nc, compression,
      photometric = if (nc == 3) 2 else 1, tileW, tileH, tiles,
      predictor = if (predictor) 2 else 1)
  }

  /** Encode a bilevel image (pixels: 1 = black) as a little-endian G4
    * TIFF (Compression 4, MinIsWhite), optionally multi-strip. */
  def encodeG4(pixels: Array[Byte], width: Int, height: Int,
      rowsPerStrip: Int = Int.MaxValue): Array[Byte] = {
    require(pixels.length == width * height, "pixel buffer size mismatch")
    val rps = math.min(rowsPerStrip, height)
    require(rps >= 1, "RowsPerStrip must be positive")
    val nStrips = (height + rps - 1) / rps
    val strips = Array.tabulate(nStrips) { k =>
      val rows = math.min(rps, height - k * rps)
      CcittG4.encode(java.util.Arrays.copyOfRange(pixels, k * rps * width,
        (k * rps + rows) * width), width, rows)
    }
    writeTiff(width, height, 1, compression = 4, photometric = 0,
      bitsPerSample = 1, rps, strips)
  }

  /** Little-endian tiled writer: header, tile data, one IFD with the
    * tile tag set (322-325) in ascending order. */
  private def writeTiffTiled(width: Int, height: Int, spp: Int, compression: Int,
      photometric: Int, tileW: Int, tileH: Int, tiles: Array[Array[Byte]],
      predictor: Int): Array[Byte] = {
    val n = tiles.length
    val dataStart = 8
    val tileOffsets = new Array[Int](n)
    var off = dataStart
    var k = 0
    while (k < n) {
      tileOffsets(k) = off
      off += tiles(k).length
      off += off & 1
      k += 1
    }
    val ifdOff = off
    // tags: 256,257,258,259,262,277 (+317) + 322,323,324,325
    val nE = if (predictor == 2) 11 else 10
    var extOff = ifdOff + 2 + nE * 12 + 4
    val bpsExt = if (spp == 3) { val o = extOff; extOff += 6; o } else -1
    val toExt = if (n > 1) { val o = extOff; extOff += 4 * n; o } else -1
    val tcExt = if (n > 1) { val o = extOff; extOff += 4 * n; o } else -1
    val out = new Array[Byte](extOff)
    def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte }
    def le32(p: Int, v: Int): Unit = { le16(p, v & 0xffff); le16(p + 2, (v >>> 16) & 0xffff) }
    out(0) = 'I'; out(1) = 'I'; out(2) = 42; out(3) = 0
    le32(4, ifdOff)
    k = 0
    while (k < n) {
      System.arraycopy(tiles(k), 0, out, tileOffsets(k), tiles(k).length)
      k += 1
    }
    le16(ifdOff, nE)
    var e = 0
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      val p = ifdOff + 2 + e * 12
      le16(p, tag); le16(p + 2, typ); le32(p + 4, count)
      if (typ == 3 && count == 1) { le16(p + 8, value); le16(p + 10, 0) }
      else le32(p + 8, value)
      e += 1
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    if (spp == 3) { entry(258, 3, 3, bpsExt); le16(bpsExt, 8); le16(bpsExt + 2, 8); le16(bpsExt + 4, 8) }
    else entry(258, 3, 1, 8)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, photometric)
    entry(277, 3, 1, spp)
    if (predictor == 2) entry(317, 3, 1, 2)
    entry(322, 4, 1, tileW)
    entry(323, 4, 1, tileH)
    if (n > 1) {
      entry(324, 4, n, toExt)
      var j = 0
      while (j < n) { le32(toExt + 4 * j, tileOffsets(j)); j += 1 }
    } else entry(324, 4, 1, tileOffsets(0))
    if (n > 1) {
      entry(325, 4, n, tcExt)
      var j = 0
      while (j < n) { le32(tcExt + 4 * j, tiles(j).length); j += 1 }
    } else entry(325, 4, 1, tiles(0).length)
    le32(ifdOff + 2 + nE * 12, 0)
    out
  }

  /** Shared little-endian writer: header, strip data, then one IFD with
    * the minimal baseline tag set (sorted ascending as the spec requires). */
  private def writeTiff(width: Int, height: Int, spp: Int, compression: Int,
      photometric: Int, bitsPerSample: Int, rps: Int,
      strips: Array[Array[Byte]], predictor: Int = 1): Array[Byte] = {
    val nStrips = strips.length
    val dataStart = 8
    val stripOffsets = new Array[Int](nStrips)
    var off = dataStart
    var k = 0
    while (k < nStrips) {
      stripOffsets(k) = off
      off += strips(k).length
      off += off & 1 // word-align next strip
      k += 1
    }
    val ifdOff = off
    // tags: 256,257,258,259,262,273,277,278,279 (+317 when differencing;
    // 284 chunky is the implicit default)
    val nE = if (predictor == 2) 10 else 9
    // external value areas (after the IFD) for arrays that don't fit inline
    var extOff = ifdOff + 2 + nE * 12 + 4
    val bpsExt = if (spp == 3) { val o = extOff; extOff += 6; o } else -1
    val soExt = if (nStrips > 1) { val o = extOff; extOff += 4 * nStrips; o } else -1
    val sbExt = if (nStrips > 1) { val o = extOff; extOff += 4 * nStrips; o } else -1
    val out = new Array[Byte](extOff)
    def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte }
    def le32(p: Int, v: Int): Unit = { le16(p, v & 0xffff); le16(p + 2, (v >>> 16) & 0xffff) }
    out(0) = 'I'; out(1) = 'I'; out(2) = 42; out(3) = 0
    le32(4, ifdOff)
    k = 0
    while (k < nStrips) {
      System.arraycopy(strips(k), 0, out, stripOffsets(k), strips(k).length)
      k += 1
    }
    le16(ifdOff, nE)
    var e = 0
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      val p = ifdOff + 2 + e * 12
      le16(p, tag); le16(p + 2, typ); le32(p + 4, count)
      if (typ == 3 && count == 1) { le16(p + 8, value); le16(p + 10, 0) }
      else le32(p + 8, value)
      e += 1
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    if (spp == 3) { entry(258, 3, 3, bpsExt); le16(bpsExt, 8); le16(bpsExt + 2, 8); le16(bpsExt + 4, 8) }
    else entry(258, 3, 1, bitsPerSample)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, photometric)
    if (nStrips > 1) {
      entry(273, 4, nStrips, soExt)
      var j = 0
      while (j < nStrips) { le32(soExt + 4 * j, stripOffsets(j)); j += 1 }
    } else entry(273, 4, 1, stripOffsets(0))
    entry(277, 3, 1, spp)
    entry(278, 4, 1, rps)
    if (nStrips > 1) {
      entry(279, 4, nStrips, sbExt)
      var j = 0
      while (j < nStrips) { le32(sbExt + 4 * j, strips(j).length); j += 1 }
    } else entry(279, 4, 1, strips(0).length)
    if (predictor == 2) entry(317, 3, 1, 2)
    le32(ifdOff + 2 + nE * 12, 0) // next-IFD pointer: none
    out
  }
}
