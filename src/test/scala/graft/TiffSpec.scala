package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Tiff

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
        val dec = graft.codec.Tiff.Lzw.decode(graft.codec.Tiff.Lzw.encode(raw), n)
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
}
