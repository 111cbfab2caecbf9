package graft.codec

/** From-scratch baseline TIFF 6.0 codec — un-fences the third classic
  * still-image container (after JPEG/PNG/GIF): scanned-document crawls
  * and fax archives ship TIFF, and the PDF fence notes already route its
  * G4 payloads through [[CcittG4]].
  *
  * Decode: both byte orders (II/MM), classic 32-bit IFD walk, BOTH
  * storage organizations (strips with RowsPerStrip, and the tiled
  * layout of tags 322-325 with edge clipping), and the sample layouts a
  * scanned/exported corpus actually carries —
  *   - 8-bit grayscale (Photometric 0 or 1; MinIsWhite inverts on
  *     output so gray always reads 0=black) and 8-bit chunky RGB, each
  *     uncompressed (1), LZW (5, with early change), zlib Deflate
  *     (8/32946), or PackBits (32773), optionally under the
  *     horizontal-differencing predictor (tag 317 = 2),
  *   - CCITT G4 bilevel (Compression 4) via [[CcittG4]], emitted as
  *     8-bit gray 0/255 honoring the photometric sense,
  *   - new-style JPEG-in-TIFF (7) via [[Jpeg]], with the shared
  *     JPEGTables tag spliced into abbreviated strips.
  * Planar config 2, FillOrder 2, CCITT 1-D/2-D (2/3), and non-8-bit
  * multitone depths return `Left` (honest fences — each is a real
  * sub-format, not an error). Output shape is [[Jpeg.Image]] like every
  * other codec here.
  *
  * Strips and tiles are one chunk grid: a strip is a chunk as wide as
  * the image, a tile a tileW x tileH chunk, and each chunk is fetched,
  * decompressed, un-predicted and placed by one loop.
  *
  * Encode (fixture/round-trip twins): little-endian strips (raw, LZW,
  * Deflate, PackBits, G4, per-strip JPEG) and tiles (raw/LZW/Deflate/
  * PackBits), configurable strip/tile geometry, optional predictor, all
  * through one IFD writer.
  * Lossless paths round-trip bit-exact, which is what lets SQL oracles
  * state decoded pixels directly.
  */
object Tiff {

  def isTiff(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"tiff: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  // one parsed IFD entry: type + count + either inline value or offset
  private final case class Entry(typ: Int, count: Long, valOff: Int)

  /** The compressions of 8-bit gray/RGB chunks, the only ones tiles take. */
  private val EightBit = Set(1, 5, 8, 32946, 32773)

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!isTiff(b)) return Left("tiff: bad header")
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
    /** Where the `total` value bytes of `e` start: inline in the entry, or
      * at its out-of-line offset; -1 when they overrun the file. */
    def valueAt(e: Entry, total: Long): Int =
      if (total <= 4) e.valOff
      else {
        val off = u32(e.valOff)
        if (off + total > b.length) -1 else off.toInt
      }
    /** All values of a tag as longs (SHORT/LONG only), or null if absent. */
    def values(tag: Int): Array[Long] = {
      val e = entries.get(tag)
      if (e == null || (e.typ != 3 && e.typ != 4) || e.count > 65536) return null
      val at = valueAt(e, typeSize(e.typ) * e.count)
      if (at < 0) null
      else Array.tabulate(e.count.toInt) { k =>
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
      if (e == null || typeSize(e.typ) != 1 || e.count > (1 << 20)) return null
      val at = valueAt(e, e.count)
      if (at < 0) null else java.util.Arrays.copyOfRange(b, at, at + e.count.toInt)
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
    if (predictor == 2 && !EightBit(compression))
      return Left("tiff: predictor with this compression unsupported")

    // One chunk grid: a strip is a chunk as wide as the image (the last
    // one short), a tile a cw x ch chunk (tags 322-325; the edge ones
    // padded, 8-bit gray/RGB only).
    val tiled = entries.containsKey(322) || entries.containsKey(323)
    val kind = if (tiled) "tile" else "strip"
    val offsets = values(if (tiled) 324 else 273)
    val counts = values(if (tiled) 325 else 279)
    val (cw, ch) =
      if (tiled) {
        val tw = scalar(322).toInt; val th = scalar(323).toInt
        if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0)
          return Left("tiff: bad tile size")
        if (offsets == null || counts == null || offsets.length != counts.length)
          return Left("tiff: missing tile tags")
        if (!EightBit(compression))
          return Left(s"tiff: compression $compression unsupported for tiles")
        (tw, th)
      } else {
        if (offsets == null || counts == null || offsets.length != counts.length || offsets.isEmpty)
          return Left("tiff: missing strip tags")
        val r = scalar(278, 0xffffffffL)
        val rps = if (r <= 0 || r > height) height else r.toInt
        if (offsets.length != (height + rps - 1) / rps)
          return Left("tiff: strip count inconsistent with RowsPerStrip")
        (width, rps)
      }

    compression match {
      case 4 => // CCITT G4 bilevel
        if (spp != 1 || bits(0) != 1L) return Left("tiff: G4 requires 1-bit single-sample data")
        if (photometric != 0 && photometric != 1)
          return Left(s"tiff: photometric $photometric unsupported for bilevel")
      case c if EightBit(c) || c == 7 => // 8-bit gray/RGB; new-style JPEG-in-TIFF (7)
        val of = if (c == 7) " JPEG" else ""
        if (!bits.forall(_ == 8L)) return Left(s"tiff: ${bits.mkString("/")}-bit samples unsupported (8-bit only)")
        if (spp != 1 && spp != 3) return Left(s"tiff: $spp samples/pixel unsupported")
        if (spp == 1 && photometric != 0 && photometric != 1)
          return Left(s"tiff: photometric $photometric unsupported for gray$of")
        // RGB: 2, or 6 (YCbCr) under JPEG, whose decode lands in RGB
        if (spp == 3 && photometric != 2 && !(c == 7 && photometric == 6))
          return Left(s"tiff: photometric $photometric unsupported for RGB$of")
      case c => return Left(s"tiff: compression $c unsupported")
    }
    val across = (width + cw - 1) / cw
    val down = (height + ch - 1) / ch
    if (offsets.length != across * down) return Left("tiff: tile count inconsistent with dimensions")

    val tables = if (compression == 7) rawBytes(347) else null
    val rowBytes = width * spp
    val chunkRowBytes = cw * spp
    val out = new Array[Byte](rowBytes * height)
    var t = 0
    while (t < offsets.length) {
      val off = offsets(t); val len = counts(t)
      if (off < 0 || len < 0 || off + len > b.length) return Left(s"tiff: $kind overruns file")
      val data = java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
      val cx = (t % across) * cw
      val cy = (t / across) * ch
      val placed = math.min(ch, height - cy)
      val rows = if (tiled) ch else placed
      val raw = (compression match {
        case 4 => CcittG4.decode(data, cw, rows) match {
          case Left(e)   => Left(s"tiff: $e")
          case Right(bl) => Right(bl.map(v => if (v != 0) 255.toByte else 0.toByte)) // 1 = max sample
        }
        case 7 => jpegChunk(data, tables, cw, rows, spp)
        case c => decompressChunk(data, rows * chunkRowBytes, c)
      }) match {
        case Left(e)  => return Left(e)
        case Right(d) => d
      }
      if (raw.length < rows * chunkRowBytes) return Left(s"tiff: $kind too short")
      if (predictor == 2) undifference(raw, rows, chunkRowBytes, spp)
      val copyW = math.min(cw, width - cx) * spp
      var r = 0
      while (r < placed) {
        System.arraycopy(raw, r * chunkRowBytes, out, (cy + r) * rowBytes + cx * spp, copyW)
        r += 1
      }
      t += 1
    }
    if (spp == 1 && photometric == 0) { // MinIsWhite: invert to 0=black
      var j = 0
      while (j < out.length) { out(j) = (255 - (out(j) & 0xff)).toByte; j += 1 }
    }
    Right(Jpeg.Image(width, height, spp, out))
  }

  /** One JPEG-in-TIFF strip, `width` x `rows` x `spp`. With shared
    * JPEGTables (tag 347) an abbreviated strip is completed: SOI, the
    * tables' payload (between ITS SOI and EOI), then the strip's payload
    * after its SOI. */
  private def jpegChunk(s: Array[Byte], tables: Array[Byte], width: Int, rows: Int,
      spp: Int): Either[String, Array[Byte]] = {
    val stream: Array[Byte] =
      if (tables == null || tables.length < 4) s
      else {
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
      case Left(e) => Left(s"tiff: $e")
      case Right(im) if im.width != width || im.height != rows || im.nComponents != spp =>
        Left(s"tiff: JPEG strip is ${im.width}x${im.height}x${im.nComponents}, wanted ${width}x${rows}x$spp")
      case Right(im) => Right(im.pixels)
    }
  }

  /** Reverse horizontal differencing (TIFF predictor 2) in place over
    * `rows` rows of `rowBytes`: each byte adds the one `spp` to its left.
    * PDF's `/Predictor 2` reverses through it too. */
  private[graft] def undifference(buf: Array[Byte], rows: Int, rowBytes: Int, spp: Int): Unit = {
    var r = 0
    while (r < rows) {
      var j = r * rowBytes + spp
      val end = (r + 1) * rowBytes
      while (j < end) { buf(j) = (buf(j) + buf(j - spp)).toByte; j += 1 }
      r += 1
    }
  }

  /** Forward horizontal differencing, the encoder's twin: in place, each
    * row right to left; returns `buf`. */
  private def difference(buf: Array[Byte], rows: Int, rowBytes: Int, spp: Int): Array[Byte] = {
    var r = 0
    while (r < rows) {
      var j = (r + 1) * rowBytes - 1
      while (j >= r * rowBytes + spp) { buf(j) = (buf(j) - buf(j - spp)).toByte; j -= 1 }
      r += 1
    }
    buf
  }

  /** Encode 8-bit gray as new-style JPEG-in-TIFF (compression 7): each
    * strip a standalone baseline-JPEG stream from [[JpegEncoder]]. With
    * the exact quant table and flat 8x8 blocks the strips round-trip
    * bit-exactly, which is what lets SQL oracles state pixels. */
  def encodeJpeg(pixels: Array[Byte], width: Int, height: Int,
      rowsPerStrip: Int = Int.MaxValue,
      quant: Array[Int] = JpegEncoder.exactQuant): Array[Byte] = {
    require(pixels.length == width * height, "pixel buffer size mismatch")
    writeStrips(pixels, width, height, 1, rowsPerStrip, compression = 7, photometric = 1,
      bits = 8, predictor = false)((raw, rows) => JpegEncoder.encodeGray(raw, width, rows, quant))
  }

  /** Decompress one strip/tile payload: 1 raw, 5 LZW, 8/32946 zlib
    * Deflate (the Adobe and legacy tags; [[Streams.inflateExactly]], the
    * one Flate kernel), 32773 PackBits. */
  private[graft] def decompressChunk(data: Array[Byte], expected: Int,
      compression: Int): Either[String, Array[Byte]] = compression match {
    case 1 => Right(data)
    case 5 => Lzw.decode(data, expected)
    case 8 | 32946 =>
      if (expected < 0 || expected > Streams.MaxDecodedBytes) Left("tiff: deflate output too large")
      else Streams.inflateExactly(data, expected) match {
        case Right(out) => if (out.length < expected) Left("tiff: deflate output short") else Right(out)
        case Left(Streams.Stop.Corrupt(m)) => Left(s"tiff: deflate: $m")
        case Left(_) => Left("tiff: deflate truncated")
      }
    case 32773 => PackBits.decode(data, expected)
    case c     => Left(s"tiff: compression $c unsupported here")
  }

  /** TIFF-variant LZW (TIFF 6.0 §13): MSB-first codes, Clear=256, EOI=257,
    * 9→12-bit widths with the "early change" bump at table size 2^w − 1.
    * Per-strip; `expected` bounds the output. Decodes through
    * [[Streams.lzw]]; the end code is required. */
  private[graft] object Lzw {
    def decode(data: Array[Byte], expected: Int): Either[String, Array[Byte]] =
      if (expected < 0 || expected > Streams.MaxDecodedBytes) Left("tiff: lzw output too large")
      else Streams.lzw(data, earlyChange = 1, limit = expected) match {
        case Right(out) => if (out.length < expected) Left("tiff: lzw output short") else Right(out)
        case Left(Streams.Stop.TooLarge) => Left("tiff: lzw output overrun")
        case Left(Streams.Stop.BadFirstCode) => Left("tiff: lzw bad first code")
        case Left(Streams.Stop.BadCode) => Left("tiff: lzw code out of range")
        case Left(_) => Left("tiff: lzw stream truncated")
      }
  }

  /** PackBits (TIFF 6.0 §9 / classic Mac RLE). */
  private[graft] object PackBits {
    def decode(data: Array[Byte], expected: Int): Either[String, Array[Byte]] = {
      if (expected < 0 || expected > Streams.MaxDecodedBytes) return Left("tiff: packbits output too large")
      val out = new Array[Byte](expected)
      var p = 0; var o = 0
      while (o < expected) {
        if (p >= data.length) return Left("tiff: packbits truncated")
        val n = data(p); p += 1
        if (n >= 0) { // literal run of n+1
          val len = n + 1
          if (p + len > data.length || o + len > expected) return Left("tiff: packbits overrun")
          System.arraycopy(data, p, out, o, len)
          p += len; o += len
        } else if (n != -128) { // repeat next byte 1-n times
          val len = 1 - n
          if (p >= data.length || o + len > expected) return Left("tiff: packbits overrun")
          java.util.Arrays.fill(out, o, o + len, data(p))
          p += 1; o += len
        } // -128: noop
      }
      Right(out)
    }

    def encode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length + 16)
      var i = 0
      while (i < data.length) {
        // find run length of identical bytes
        var run = 1
        while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
        if (run >= 2) {
          out.write(1 - run) // signed negative
          out.write(data(i))
          i += run
        } else {
          // literal stretch until the next run of >= 3 (or 128 cap)
          var end = i + 1
          while (end < data.length && end - i < 128 &&
            !(end + 2 < data.length && data(end) == data(end + 1) && data(end) == data(end + 2)))
            end += 1
          out.write(end - i - 1)
          out.write(data, i, end - i)
          i = end
        }
      }
      out.toByteArray
    }
  }

  /** Encode 8-bit gray (nc=1) or RGB (nc=3) as a little-endian
    * uncompressed TIFF with the given RowsPerStrip (multi-strip when
    * rowsPerStrip < height). */
  def encode(pixels: Array[Byte], width: Int, height: Int, nc: Int,
      rowsPerStrip: Int = Int.MaxValue): Array[Byte] = {
    require(nc == 1 || nc == 3, "gray or RGB only")
    require(pixels.length == width * height * nc, "pixel buffer size mismatch")
    writeStrips(pixels, width, height, nc, rowsPerStrip, compression = 1,
      photometric = if (nc == 3) 2 else 1, bits = 8, predictor = false)((raw, _) => raw)
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
    writeStrips(pixels, width, height, nc, rowsPerStrip, compression,
      photometric = if (nc == 3) 2 else 1, bits = 8, predictor)(
      (raw, rows) => compressChunk(if (predictor) difference(raw, rows, width * nc, nc) else raw, compression))
  }

  private def compressChunk(raw: Array[Byte], compression: Int): Array[Byte] =
    compression match {
      case 1 => raw
      case 5 => Streams.lzwEncode(raw, earlyChange = 1)
      case 8 => Streams.deflate(raw)
      case _ => PackBits.encode(raw)
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
    val tiles = chunks(pixels, width, height, nc, tileW, tileH, tiled = true)(
      (raw, rows) => compressChunk(if (predictor) difference(raw, rows, tileW * nc, nc) else raw, compression))
    writeTiff(tiles, 324, 325, fields(width, height, nc, 8, compression,
      photometric = if (nc == 3) 2 else 1, predictor) ++
      Seq((322, 4, Array(tileW)), (323, 4, Array(tileH))))
  }

  /** Encode a bilevel image (pixels: 1 = black) as a little-endian G4
    * TIFF (Compression 4, MinIsWhite), optionally multi-strip. */
  def encodeG4(pixels: Array[Byte], width: Int, height: Int,
      rowsPerStrip: Int = Int.MaxValue): Array[Byte] = {
    require(pixels.length == width * height, "pixel buffer size mismatch")
    writeStrips(pixels, width, height, 1, rowsPerStrip, compression = 4, photometric = 0,
      bits = 1, predictor = false)((raw, rows) => CcittG4.encode(raw, width, rows))
  }

  /** Cut `pixels` (`nc` bytes a pixel) into the chunk grid, row-major,
    * and code each chunk with its row count: a strip spans the image
    * width and the last one is short; a tile is `cw` x `ch` and the edge
    * ones are zero-padded. */
  private def chunks(pixels: Array[Byte], width: Int, height: Int, nc: Int, cw: Int, ch: Int,
      tiled: Boolean)(code: (Array[Byte], Int) => Array[Byte]): Array[Array[Byte]] = {
    val across = if (tiled) (width + cw - 1) / cw else 1
    val down = (height + ch - 1) / ch
    Array.tabulate(across * down) { t =>
      val cx = (t % across) * cw
      val cy = (t / across) * ch
      val placed = math.min(ch, height - cy)
      val rows = if (tiled) ch else placed
      val raw = new Array[Byte](cw * nc * rows)
      var r = 0
      while (r < placed) {
        System.arraycopy(pixels, ((cy + r) * width + cx) * nc, raw, r * cw * nc, math.min(cw, width - cx) * nc)
        r += 1
      }
      code(raw, rows)
    }
  }

  /** Every strip encoder: RowsPerStrip clamped to the height, each strip
    * coded by `code`. */
  private def writeStrips(pixels: Array[Byte], width: Int, height: Int, nc: Int,
      rowsPerStrip: Int, compression: Int, photometric: Int, bits: Int,
      predictor: Boolean)(code: (Array[Byte], Int) => Array[Byte]): Array[Byte] = {
    val rps = math.min(rowsPerStrip, height)
    require(rps >= 1, "RowsPerStrip must be positive")
    val strips = chunks(pixels, width, height, nc, width, rps, tiled = false)(code)
    writeTiff(strips, 273, 279, fields(width, height, nc, bits, compression, photometric,
      predictor) :+ ((278, 4, Array(rps))))
  }

  /** The baseline fields every encoder writes (chunky PlanarConfiguration
    * 284 is the implicit default). */
  private def fields(width: Int, height: Int, spp: Int, bits: Int, compression: Int,
      photometric: Int, predictor: Boolean): Seq[(Int, Int, Array[Int])] =
    Seq((256, 4, Array(width)), (257, 4, Array(height)), (258, 3, Array.fill(spp)(bits)),
      (259, 3, Array(compression)), (262, 3, Array(photometric)), (277, 3, Array(spp))) ++
      (if (predictor) Seq((317, 3, Array(2))) else Nil)

  /** The one little-endian writer: header, the chunks word-aligned from
    * byte 8, then one IFD of `fields` (tag, type SHORT 3 or LONG 4,
    * values) plus the chunks' offsets and byte counts under `offsetsTag`
    * and `countsTag`, in ascending tag order as the spec requires. Each
    * value array wider than the 4 inline bytes follows the IFD, in tag
    * order. */
  private def writeTiff(chunks: Array[Array[Byte]], offsetsTag: Int, countsTag: Int,
      fields: Seq[(Int, Int, Array[Int])]): Array[Byte] = {
    val offsets = new Array[Int](chunks.length)
    var ifdOff = 8
    for (k <- chunks.indices) {
      offsets(k) = ifdOff
      ifdOff += chunks(k).length
      ifdOff += ifdOff & 1 // word-align the next chunk
    }
    val ifd = (fields :+ ((offsetsTag, 4, offsets)) :+ ((countsTag, 4, chunks.map(_.length)))).sortBy(_._1)
    def size(typ: Int) = if (typ == 3) 2 else 4
    val ifdEnd = ifdOff + 2 + ifd.length * 12 + 4 // next-IFD pointer: none (0)
    val out = new Array[Byte](ifdEnd + ifd.map { case (_, typ, vs) => size(typ) * vs.length }.filter(_ > 4).sum)
    def le(p: Int, v: Int, n: Int): Unit = for (k <- 0 until n) out(p + k) = (v >>> (8 * k)).toByte
    out(0) = 'I'; out(1) = 'I'; out(2) = 42
    le(4, ifdOff, 4)
    for (k <- chunks.indices) System.arraycopy(chunks(k), 0, out, offsets(k), chunks(k).length)
    le(ifdOff, ifd.length, 2)
    var ext = ifdEnd
    for (((tag, typ, vs), e) <- ifd.zipWithIndex) {
      val p = ifdOff + 2 + e * 12
      le(p, tag, 2); le(p + 2, typ, 2); le(p + 4, vs.length, 4)
      val at = if (size(typ) * vs.length <= 4) p + 8 else {
        le(p + 8, ext, 4)
        ext += size(typ) * vs.length
        ext - size(typ) * vs.length
      }
      for (k <- vs.indices) le(at + k * size(typ), vs(k), size(typ))
    }
    out
  }
}
