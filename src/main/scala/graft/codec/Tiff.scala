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
  * Encode (fixture/round-trip twins): little-endian strips (raw, LZW,
  * Deflate, PackBits, G4, per-strip JPEG) and tiles (raw/LZW/Deflate/
  * PackBits), configurable strip/tile geometry, optional predictor.
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
        val raw = decompressChunk(data, tileRowBytes * th, compression) match {
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
          val raw = decompressChunk(s, rows * rowBytes, compression) match {
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
    private val Clear = 256
    private val Eoi = 257

    def decode(data: Array[Byte], expected: Int): Either[String, Array[Byte]] =
      if (expected < 0 || expected > Streams.MaxDecodedBytes) Left("tiff: lzw output too large")
      else Streams.lzw(data, earlyChange = 1, limit = expected) match {
        case Right(out) => if (out.length < expected) Left("tiff: lzw output short") else Right(out)
        case Left(Streams.Stop.TooLarge) => Left("tiff: lzw output overrun")
        case Left(Streams.Stop.BadFirstCode) => Left("tiff: lzw bad first code")
        case Left(Streams.Stop.BadCode) => Left("tiff: lzw code out of range")
        case Left(_) => Left("tiff: lzw stream truncated")
      }

    def encode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
      var acc = 0L; var nBits = 0
      var width = 9
      def put(code: Int): Unit = {
        acc = (acc << width) | code; nBits += width
        while (nBits >= 8) { out.write(((acc >>> (nBits - 8)) & 0xff).toInt); nBits -= 8 }
      }
      // table: (prefixCode << 8 | byte) -> code
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
            // early-change alignment: the encoder's k-th add happens one
            // code EARLIER in the stream than the decoder's (the decoder
            // only adds from its 2nd post-clear code), so the encoder
            // widens at 1<<w where the decoder widens at (1<<w)-1 —
            // validated both ways against ImageIO's independent codec
            if (next == (1 << width) && width < 12) width += 1
            if (next >= 4094) { // table nearly full: reset
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
      // EOI fencepost: mid-stream the decoder lags the encoder by one
      // add, so enc-bump-at-2^w / dec-bump-at-2^w-1 stay aligned — but
      // at EOI the add counts coincide (no add follows the final code),
      // so when the table size sits exactly on 2^w - 1 the decoder has
      // widened and the encoder must too (ImageIO's decoder agrees)
      if (next == (1 << width) - 1 && width < 12) width += 1
      put(Eoi)
      if (nBits > 0) out.write(((acc << (8 - nBits)) & 0xff).toInt)
      out.toByteArray
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
      case 5 => Lzw.encode(raw)
      case 8 =>
        val defl = new java.util.zip.Deflater()
        defl.setInput(raw); defl.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
        val buf = new Array[Byte](4096)
        while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
        defl.end()
        out.toByteArray
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
