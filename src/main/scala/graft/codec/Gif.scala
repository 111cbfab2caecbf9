package graft.codec

/** From-scratch GIF (87a/89a) codec — with [[Jpeg]] and [[Png]] this
  * covers the classic web image trio (WebP/AVIF need full VP8/AV1
  * stacks and stay honest fences at the sniffing layer).
  *
  * Decode: logical screen descriptor, global/local color tables,
  * extension-block skipping, the FIRST image frame via variable-width
  * LZW ([[Streams.lzwExactly]], LSB-first from the frame's minimum code
  * size) including the 4-pass interlace layout — [[decode]] is the
  * thumbnail/feature-extraction read. [[decodeFrames]] decodes the WHOLE animation with GIF89a
  * compositing semantics (frame offsets, transparency holes, disposal
  * 1/2/3, NETSCAPE loop count) — animated GIFs are the web's
  * lightweight video, and frame sampling needs true composited frames.
  *
  * Encode (test/fixture twins): GIF87a single frame and GIF89a
  * animation ([[encodeAnimated]]), global palette, LZW through
  * [[Streams.lzwEncode]]. Lossless given a ≤256-color palette, so
  * round-trips are bit-exact.
  */
object Gif {

  def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  /** The logical screen and the global color table (null when absent);
    * `start` is where the blocks begin. */
  private final case class Screen(w: Int, h: Int, gct: Array[Byte], start: Int)

  /** The header, with the caller's bound on the screen size (`fits`). */
  private def readScreen(b: Array[Byte], fits: (Int, Int) => Boolean): Either[String, Screen] = {
    if (!isGif(b)) return Left("gif: bad signature")
    if (b.length < 13) return Left("gif: truncated header")
    val sw = u16(b, 6); val sh = u16(b, 8)
    if (sw <= 0 || sh <= 0 || !fits(sw, sh)) return Left("gif: bad screen size")
    val flags = b(10) & 0xff
    if ((flags & 0x80) == 0) return Right(Screen(sw, sh, null, 13))
    val n = 2 << (flags & 7)
    if (13 + 3 * n > b.length) return Left("gif: truncated global color table")
    Right(Screen(sw, sh, java.util.Arrays.copyOfRange(b, 13, 13 + 3 * n), 13 + 3 * n))
  }

  /** Past the extension block at `p` (label, then sub-blocks). */
  private def skipExtension(b: Array[Byte], p0: Int): Int = {
    var p = p0 + 2
    while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
    p + 1
  }

  /** One image: its rect, palette and indices, `rows(k)` the row the k-th
    * stored row belongs on (the four passes when interlaced), `end` past
    * its block terminator. */
  private final case class Frame(left: Int, top: Int, w: Int, h: Int, pal: Array[Byte],
      indices: Array[Byte], rows: Array[Int], end: Int)

  /** The image at `p0` (its 0x2c separator): descriptor, local color
    * table, the caller's rect check (`fits`, else `misfit`), LZW code
    * size, data sub-blocks and the LZW decode of w × h indices. */
  private def readFrame(b: Array[Byte], p0: Int, gct: Array[Byte],
      fits: (Int, Int, Int, Int) => Boolean, misfit: String): Either[String, Frame] = {
    if (p0 + 10 > b.length) return Left("gif: truncated image descriptor")
    val left = u16(b, p0 + 1); val top = u16(b, p0 + 3)
    val iw = u16(b, p0 + 5); val ih = u16(b, p0 + 7)
    val iflags = b(p0 + 9) & 0xff
    var p = p0 + 10
    var pal = gct
    if ((iflags & 0x80) != 0) {
      val n = 2 << (iflags & 7)
      if (p + 3 * n > b.length) return Left("gif: truncated local color table")
      pal = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    if (pal == null) return Left("gif: no color table")
    if (iw <= 0 || ih <= 0 || !fits(left, top, iw, ih)) return Left(misfit)
    if (p >= b.length) return Left("gif: missing LZW code size")
    val minCode = b(p) & 0xff
    p += 1
    if (minCode < 2 || minCode > 8) return Left("gif: bad LZW min code size")
    val data = new java.io.ByteArrayOutputStream()
    while (p < b.length && (b(p) & 0xff) != 0) {
      val n = b(p) & 0xff
      if (p + 1 + n > b.length) return Left("gif: truncated data sub-block")
      data.write(b, p + 1, n)
      p += 1 + n
    }
    // a decoder stops at w × h indices and needs no end code after them
    val indices = Streams.lzwExactly(data.toByteArray, iw * ih, rootWidth = minCode) match {
      case Right(ix) if ix.length == iw * ih => ix
      case Right(_) => return Left("gif: LZW ended early")
      case Left(Streams.Stop.Truncated(_)) => return Left("gif: LZW stream truncated")
      case Left(_) => return Left("gif: LZW code out of range")
    }
    val rows =
      if ((iflags & 0x40) == 0) Array.tabulate(ih)(identity)
      else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (y, step) => y until ih by step }.toArray
    Right(Frame(left, top, iw, ih, pal, indices, rows, p + 1))
  }

  /** Draws `f` with its top-left at (x0, y0) on an RGB canvas `cw` pixels
    * wide, leaving pixels of index `trans` (−1: none) as they are; the
    * error when an index is past the palette. */
  private def draw(f: Frame, canvas: Array[Byte], cw: Int, x0: Int, y0: Int,
      trans: Int): Option[String] = {
    val maxIdx = f.pal.length / 3
    var k = 0
    while (k < f.h) {
      val dstY = y0 + f.rows(k)
      var x = 0
      while (x < f.w) {
        val idx = f.indices(k * f.w + x) & 0xff
        if (idx >= maxIdx) return Some("gif: palette index out of range")
        if (idx != trans) {
          val o = (dstY * cw + x0 + x) * 3
          canvas(o) = f.pal(3 * idx); canvas(o + 1) = f.pal(3 * idx + 1); canvas(o + 2) = f.pal(3 * idx + 2)
        }
        x += 1
      }
      k += 1
    }
    None
  }

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    val screen = readScreen(b, (_, _) => true) match {
      case Right(s) => s
      case Left(e) => return Left(e)
    }
    var p = screen.start
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b => return Left("gif: no image data before trailer")
        case 0x21 => p = skipExtension(b, p)
        case 0x2c =>
          // the frame alone is the image: its size is the alloc ceiling
          val f = readFrame(b, p, screen.gct, (_, _, w, h) => w.toLong * h <= Streams.MaxDecodedBytes / 4,
            "gif: bad frame size") match {
            case Right(f) => f
            case Left(e) => return Left(e)
          }
          val out = new Array[Byte](f.w * f.h * 3)
          return draw(f, out, f.w, 0, 0, -1).toLeft(Jpeg.Image(f.w, f.h, 3, out))
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: no image frame")
  }

  /** Encode indexed pixels (values < palette size) as a one-frame GIF87a.
    * `palette` is RGB triples, length a power of two in [4, 768]. */
  def encode(indices: Array[Byte], width: Int, height: Int, palette: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && indices.length == width * height, "bad image shape")
    require(palette.length % 3 == 0, "palette must be RGB triples")
    val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 64)
    val minCode = writeScreen(out, "GIF87a", width, height, palette)
    writeImage(out, 0, 0, width, height, indices, minCode)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Signature, logical screen descriptor and global palette; the LZW
    * minimum code size for the palette. */
  private def writeScreen(out: java.io.ByteArrayOutputStream, version: String, w: Int, h: Int,
      palette: Array[Byte]): Int = {
    val nColors = palette.length / 3
    require(nColors >= 2 && nColors <= 256 && Integer.bitCount(nColors) == 1,
      "palette size must be a power of two in [2, 256]")
    val colorBits = Integer.numberOfTrailingZeros(nColors)
    out.write(version.getBytes("US-ASCII"))
    le16(out, w); le16(out, h)
    out.write(0x80 | (colorBits - 1 max 0)) // GCT present, size bits
    out.write(0); out.write(0)
    out.write(palette, 0, palette.length)
    math.max(2, colorBits)
  }

  private def le16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** Image descriptor (no local table, not interlaced) and the LZW data
    * as length-prefixed sub-blocks plus the terminator. */
  private def writeImage(out: java.io.ByteArrayOutputStream, left: Int, top: Int, w: Int, h: Int,
      indices: Array[Byte], minCode: Int): Unit = {
    out.write(0x2c)
    le16(out, left); le16(out, top); le16(out, w); le16(out, h)
    out.write(0)
    out.write(minCode)
    val z = Streams.lzwEncode(indices, earlyChange = 0, lsbFirst = true, rootWidth = minCode)
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      out.write(n)
      out.write(z, off, n)
      off += n
    }
    out.write(0) // block terminator
  }

  // ------------------------------------------------------------ animation

  /** One frame's placement in an animated GIF: indexed pixels in a rect
    * at (left, top), display delay in centiseconds, disposal method
    * (1 leave, 2 restore-to-background, 3 restore-to-previous), and an
    * optional transparent index (−1 = opaque). */
  final case class FrameSpec(indices: Array[Byte], left: Int, top: Int,
      width: Int, height: Int, delayCs: Int, disposal: Int, transIdx: Int = -1)

  /** A decoded animation: per-frame FULL-CANVAS RGB after compositing
    * (transparency holes show the prior canvas; disposal applied between
    * frames), plus the NETSCAPE loop count (0 = infinite, −1 = absent). */
  final case class Anim(width: Int, height: Int, loop: Int,
      frames: Vector[Jpeg.Image], delaysCs: Vector[Int]) {
    def nFrames: Int = frames.length
    def durationCs: Long = delaysCs.map(_.toLong).sum
  }

  /** Decode ALL frames of a GIF with GIF89a animation semantics — the
    * compositing model browsers implement: frames draw into the logical-
    * screen canvas at their offsets, transparent indices preserve the
    * canvas, and the PREVIOUS frame's disposal runs before each draw
    * (2 clears its rect to black, 3 restores the pre-draw canvas). The
    * canvas starts black (the background-index convention is ignored by
    * every modern renderer). */
  def decodeFrames(b: Array[Byte], maxFrames: Int = 4096): Either[String, Anim] =
    try decodeFramesImpl(b, maxFrames)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeFramesImpl(b: Array[Byte], maxFrames: Int): Either[String, Anim] = {
    val Screen(sw, sh, gct, start) =
      readScreen(b, (w, h) => w.toLong * h <= Streams.MaxDecodedBytes / 4) match {
        case Right(s) => s
        case Left(e) => return Left(e)
      }
    var p = start
    val canvas = new Array[Byte](sw * sh * 3) // starts black
    var loop = -1
    val frames = Vector.newBuilder[Jpeg.Image]
    val delays = Vector.newBuilder[Int]
    var n = 0
    // pending graphic-control state (applies to the NEXT image)
    var delayCs = 0; var disposal = 0; var transIdx = -1
    // disposal of the PREVIOUS frame, to apply before the next draw
    var prevDisposal = 0
    var prevRect: (Int, Int, Int, Int) = null // (left, top, w, h)
    var prevCanvas: Array[Byte] = null
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b =>
          val fs = frames.result()
          if (fs.isEmpty) return Left("gif: no image frame")
          return Right(Anim(sw, sh, loop, fs, delays.result()))
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
          p = skipExtension(b, p)
        case 0x2c =>
          if (n >= maxFrames) return Left("gif: too many frames")
          val f = readFrame(b, p, gct, (l, t, w, h) => l + w <= sw && t + h <= sh,
            "gif: frame rect outside canvas") match {
            case Right(f) => f
            case Left(e) => return Left(e)
          }
          p = f.end
          // apply the PREVIOUS frame's disposal before drawing this one
          prevDisposal match {
            case 2 if prevRect != null =>
              val (pl, pt, pw, ph) = prevRect
              var y = pt
              while (y < pt + ph) {
                java.util.Arrays.fill(canvas, (y * sw + pl) * 3, (y * sw + pl + pw) * 3, 0.toByte)
                y += 1
              }
            case 3 if prevCanvas != null =>
              System.arraycopy(prevCanvas, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          val saved = if (disposal == 3) canvas.clone() else null
          draw(f, canvas, sw, f.left, f.top, transIdx).foreach(e => return Left(e))
          frames += Jpeg.Image(sw, sh, 3, canvas.clone())
          delays += delayCs
          n += 1
          prevDisposal = disposal
          prevRect = (f.left, f.top, f.w, f.h)
          prevCanvas = saved
          delayCs = 0; disposal = 0; transIdx = -1
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: missing trailer")
  }

  /** Encode an animated GIF89a: global palette, NETSCAPE loop extension,
    * one GCE per frame (delay, disposal, optional transparency). */
  def encodeAnimated(screenW: Int, screenH: Int, palette: Array[Byte],
      loop: Int, frames: Seq[FrameSpec]): Array[Byte] = {
    require(screenW > 0 && screenH > 0, "bad screen size")
    require(frames.nonEmpty, "at least one frame")
    val out = new java.io.ByteArrayOutputStream()
    val minCode = writeScreen(out, "GIF89a", screenW, screenH, palette)
    // NETSCAPE2.0 loop extension
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); le16(out, loop); out.write(0)
    for (f <- frames) {
      require(f.indices.length == f.width * f.height, "bad frame shape")
      require(f.left >= 0 && f.top >= 0 && f.left + f.width <= screenW &&
        f.top + f.height <= screenH, "frame rect outside canvas")
      // graphic control extension
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(((f.disposal & 7) << 2) | (if (f.transIdx >= 0) 1 else 0))
      le16(out, f.delayCs)
      out.write(if (f.transIdx >= 0) f.transIdx else 0)
      out.write(0)
      writeImage(out, f.left, f.top, f.width, f.height, f.indices, minCode)
    }
    out.write(0x3b)
    out.toByteArray
  }
}
