package graft.codec

/** From-scratch PNG (RFC 2083 / ISO 15948) codec — with [[Jpeg]] this
  * covers the two dominant crawl image formats losslessly vs lossily.
  *
  * Decode: signature + chunk walk (CRC-validated), IHDR, concatenated
  * IDAT zlib streams ([[Streams.inflateExactly]], the one Flate kernel),
  * per-row filters None/Sub/Up/Average/Paeth,
  * color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha) and
  * 6 (RGBA) at bit depths 8 and 16 — alpha is dropped on output (the
  * feature extraction consumers read color planes; compositing policy
  * is the caller's), and 16-bit samples reduce to their high byte (the
  * standard 8-bit read; filtering still runs over the full 16-bit
  * scanlines first, as the spec requires). Adam7 interlace decodes too:
  * each of the 7 passes defilters as its own sub-image and scatters on
  * the pass grid. Sub-byte depths 1/2/4 (legal for gray and palette
  * only, per the spec's allowed combinations) unpack MSB-first after
  * defiltering: gray samples scale to 8-bit as v*255/(2^d-1) (the
  * spec's sample-depth scaling), palette indices stay raw.
  * Output shape matches [[Jpeg.Image]]: gray bytes or interleaved RGB.
  *
  * Encode (test/fixture twin): color type 0 or 2 at depth 8, filter 0
  * rows, one IDAT; [[encodeGrayLowBit]] and [[encodeIndexed]] write the
  * 1/2/4-bit gray and palette shapes for the differential specs.
  * Lossless — round-trips are bit-exact by construction, which
  * is what lets the q200 oracle state decoded pixels directly.
  */
object Png {

  private val Signature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(b, 8), Signature)

  // CRC-32 over chunk type + data (JDK CRC32 — the standard polynomial)
  private def crc(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  /** The concatenated IDAT zlib stream, inflated to exactly `rawLen`
    * bytes through the one Flate kernel. */
  private[graft] def inflateIdat(idat: Array[Byte], rawLen: Int): Either[String, Array[Byte]] =
    Streams.inflateExactly(idat, rawLen) match {
      case Right(out) => if (out.length < rawLen) Left("png: short pixel data") else Right(out)
      case Left(Streams.Stop.Corrupt(m)) => Left(s"png: DataFormatException: $m")
      case Left(_) => Left("png: truncated IDAT")
    }

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"png: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!isPng(b)) return Left("png: bad signature")
    var p = 8
    var width = 0; var height = 0; var bitDepth = 0; var colorType = -1
    var interlace = 0
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (p + 12 <= b.length && !sawEnd) {
      val len = u32(b, p)
      if (len > Int.MaxValue || p + 12 + len > b.length) return Left("png: chunk overruns file")
      val l = len.toInt
      val typ = new String(b, p + 4, 4, "US-ASCII")
      if (crc(b, p + 4, 4 + l) != u32(b, p + 8 + l)) return Left(s"png: bad CRC on $typ")
      typ match {
        case "IHDR" =>
          if (l != 13) return Left("png: bad IHDR length")
          width = u32(b, p + 8).toInt; height = u32(b, p + 12).toInt
          bitDepth = b(p + 16) & 0xff; colorType = b(p + 17) & 0xff
          if ((b(p + 18) & 0xff) != 0) return Left("png: unknown compression method")
          if ((b(p + 19) & 0xff) != 0) return Left("png: unknown filter method")
          interlace = b(p + 20) & 0xff
          if (width <= 0 || height <= 0) return Left("png: bad dimensions")
          // up to 8 bytes a pixel (16-bit RGBA) under the decode ceiling:
          // crafted IHDRs become error rows, not executor OOMs
          if (width.toLong * height > Streams.MaxDecodedBytes / 8) return Left("png: image too large")
          if (!Set(1, 2, 4, 8, 16).contains(bitDepth))
            return Left(s"png: bit depth $bitDepth invalid")
          if (bitDepth == 16 && colorType == 3) return Left("png: 16-bit palette is invalid")
          if (bitDepth < 8 && colorType != 0 && colorType != 3)
            return Left(s"png: bit depth $bitDepth invalid for color type $colorType")
          if (!Set(0, 2, 3, 4, 6).contains(colorType)) return Left(s"png: color type $colorType")
          if (interlace != 0 && interlace != 1) return Left("png: unknown interlace method")
        case "PLTE" =>
          if (l % 3 != 0 || l > 768) return Left("png: bad PLTE")
          palette = java.util.Arrays.copyOfRange(b, p + 8, p + 8 + l)
        case "IDAT" => idat.write(b, p + 8, l)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped
      }
      p += 12 + l
    }
    if (colorType < 0) return Left("png: no IHDR")
    if (!sawEnd) return Left("png: no IEND")
    if (idat.size() == 0) return Left("png: no IDAT")
    if (colorType == 3 && palette == null) return Left("png: palette image without PLTE")

    val sampleBytes = if (bitDepth == 16) 2 else 1
    val channels = colorType match {
      case 0 | 3 => 1
      case 2 => 3
      case 4 => 2
      case 6 => 4
    }
    val bitsPerPx = channels * bitDepth
    // filter left-neighbor offset: "bpp" in the spec is defined as the
    // number of bytes per COMPLETE pixel, ROUNDED UP to one for sub-byte
    val bpp = math.max(1, bitsPerPx / 8)
    // packed scanline bytes for a pw-pixel row
    def rowBytes(pw: Int): Int = ((pw.toLong * bitsPerPx + 7) / 8).toInt
    val stride = width * channels * sampleBytes // UNPACKED output stride
    // total inflated size: non-interlaced = h scanlines of (1 + rowBytes);
    // Adam7 = the sum over non-empty passes of their own scanline runs
    val passes: Seq[(Int, Int, Int, Int)] = // (startX, startY, stepX, stepY)
      if (interlace == 0) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (sx, sy, dx, dy) = p
      (math.max(0, (width - sx + dx - 1) / dx), math.max(0, (height - sy + dy - 1) / dy))
    }
    val rawLen = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw == 0 || ph == 0) 0L else ph.toLong * (1 + rowBytes(pw))
    }.sum
    if (rawLen > (1L << 30)) return Left("png: image too large")
    val raw = inflateIdat(idat.toByteArray, rawLen.toInt) match {
      case Right(out) => out
      case Left(err) => return Left(err)
    }

    // unpack sub-byte rows to one byte per pixel (MSB-first packing per
    // spec); gray scales to 8-bit by v*255/(2^d-1), palette indices stay
    // raw (the spec scales SAMPLES, never palette indices)
    val outBpp = channels * sampleBytes // bytes/pixel AFTER unpacking
    def unpack(packed: Array[Byte], rows: Int, pw: Int): Array[Byte] =
      if (bitDepth >= 8) packed
      else {
        val maxV = (1 << bitDepth) - 1
        val o = new Array[Byte](rows * pw)
        var y = 0
        while (y < rows) {
          val rb = rowBytes(pw)
          var x = 0
          while (x < pw) {
            val bitPos = x * bitDepth
            val v = ((packed(y * rb + (bitPos >> 3)) & 0xff) >>
              (8 - bitDepth - (bitPos & 7))) & maxV
            o(y * pw + x) = (if (colorType == 0) v * 255 / maxV else v).toByte
            x += 1
          }
          y += 1
        }
        o
      }

    val pix = new Array[Byte](stride * height)
    if (interlace == 0) {
      defilter(raw, 0, height, rowBytes(width), bpp) match {
        case Left(e)  => return Left(e)
        case Right(d) => System.arraycopy(unpack(d, height, width), 0, pix, 0, pix.length)
      }
    } else {
      // Adam7: each pass is its own filtered sub-image (filter context
      // resets per pass); scatter its pixels on the pass grid
      var off = 0
      for (p @ (sx, sy, dx, dy) <- passes) {
        val (pw, ph) = passDims(p)
        if (pw > 0 && ph > 0) {
          val passBytes = defilter(raw, off, ph, rowBytes(pw), bpp) match {
            case Left(e)  => return Left(e)
            case Right(d) => unpack(d, ph, pw)
          }
          off += ph * (1 + rowBytes(pw))
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              System.arraycopy(passBytes, (j * pw + i) * outBpp,
                pix, ((sy + j * dy) * width + sx + i * dx) * outBpp, outBpp)
              i += 1
            }
            j += 1
          }
        }
      }
    }

    // 16-bit samples reduce to their high byte (big-endian per spec) —
    // the standard 8-bit read for feature-extraction consumers
    val pix8 =
      if (sampleBytes == 1) pix
      else {
        val p8 = new Array[Byte](pix.length / 2)
        var i = 0
        while (i < p8.length) { p8(i) = pix(2 * i); i += 1 }
        p8
      }
    // project to the Image layout
    colorType match {
      case 0 => Right(Jpeg.Image(width, height, 1, pix8))
      case 2 => Right(Jpeg.Image(width, height, 3, pix8))
      case 3 =>
        val out = new Array[Byte](width * height * 3)
        val maxIdx = palette.length / 3
        var i = 0
        while (i < width * height) {
          val idx = pix8(i) & 0xff
          if (idx >= maxIdx) return Left("png: palette index out of range")
          out(3 * i) = palette(3 * idx)
          out(3 * i + 1) = palette(3 * idx + 1)
          out(3 * i + 2) = palette(3 * idx + 2)
          i += 1
        }
        Right(Jpeg.Image(width, height, 3, out))
      case 4 => // gray+alpha -> gray
        val out = new Array[Byte](width * height)
        var i = 0
        while (i < width * height) { out(i) = pix8(2 * i); i += 1 }
        Right(Jpeg.Image(width, height, 1, out))
      case _ => // 6: RGBA -> RGB
        val out = new Array[Byte](width * height * 3)
        var i = 0
        while (i < width * height) {
          out(3 * i) = pix8(4 * i); out(3 * i + 1) = pix8(4 * i + 1); out(3 * i + 2) = pix8(4 * i + 2)
          i += 1
        }
        Right(Jpeg.Image(width, height, 3, out))
    }
  }

  /** Defilter `rows` scanlines of `rowBytes` pixels-bytes starting at
    * raw(off) (each prefixed by its filter byte) into a fresh buffer;
    * `bpp` is the left neighbour's distance. PDF's PNG predictors
    * (10-15) reverse through it too. */
  private[graft] def defilter(raw: Array[Byte], off: Int, rows: Int, rowBytes: Int,
      bpp: Int): Either[String, Array[Byte]] = {
    val out = new Array[Byte](rowBytes * rows)
    var y = 0
    while (y < rows) {
      val f = raw(off + y * (rowBytes + 1)) & 0xff
      val ro = off + y * (rowBytes + 1) + 1
      val po = y * rowBytes
      val prev = po - rowBytes
      f match {
        case 0 => System.arraycopy(raw, ro, out, po, rowBytes)
        case 1 => // Sub
          var x = 0
          while (x < rowBytes) {
            val left = if (x >= bpp) out(po + x - bpp) & 0xff else 0
            out(po + x) = ((raw(ro + x) & 0xff) + left).toByte
            x += 1
          }
        case 2 => // Up
          var x = 0
          while (x < rowBytes) {
            val up = if (y > 0) out(prev + x) & 0xff else 0
            out(po + x) = ((raw(ro + x) & 0xff) + up).toByte
            x += 1
          }
        case 3 => // Average
          var x = 0
          while (x < rowBytes) {
            val left = if (x >= bpp) out(po + x - bpp) & 0xff else 0
            val up = if (y > 0) out(prev + x) & 0xff else 0
            out(po + x) = ((raw(ro + x) & 0xff) + ((left + up) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          var x = 0
          while (x < rowBytes) {
            val a = if (x >= bpp) out(po + x - bpp) & 0xff else 0
            val bb = if (y > 0) out(prev + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) out(prev + x - bpp) & 0xff else 0
            val pa = math.abs(bb - c); val pb = math.abs(a - c); val pc = math.abs(a + bb - 2 * c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
            out(po + x) = ((raw(ro + x) & 0xff) + pred).toByte
            x += 1
          }
        case other => return Left(s"png: unknown filter $other at row $y")
      }
      y += 1
    }
    Right(out)
  }

  /** Encode gray (nComponents=1) or RGB (nComponents=3) 8-bit pixels. */
  def encode(pix: Array[Byte], width: Int, height: Int, nComponents: Int): Array[Byte] = {
    require(nComponents == 1 || nComponents == 3, "gray or rgb only")
    require(pix.length == width * height * nComponents, "bad image shape")
    val stride = width * nComponents
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) {
      // filter 0 rows (the spec-minimal choice; decoders must handle all)
      System.arraycopy(pix, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    assemble(width, height, 8, if (nComponents == 1) 0 else 2, null, raw)
  }

  /** The chunk stream every encoder writes: IHDR, PLTE when given, one
    * IDAT of the filtered rows, IEND. */
  private def assemble(width: Int, height: Int, bitDepth: Int, colorType: Int,
      plte: Array[Byte], packedRows: Array[Byte]): Array[Byte] = {
    val zbuf = Streams.deflate(packedRows)
    val out = new java.io.ByteArrayOutputStream(zbuf.length + 128)
    out.write(Signature, 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val l = data.length
      out.write((l >>> 24) & 0xff); out.write((l >>> 16) & 0xff)
      out.write((l >>> 8) & 0xff); out.write(l & 0xff)
      val td = new Array[Byte](4 + l)
      var i = 0
      while (i < 4) { td(i) = typ.charAt(i).toByte; i += 1 }
      System.arraycopy(data, 0, td, 4, l)
      out.write(td, 0, td.length)
      val c = crc(td, 0, td.length)
      out.write(((c >>> 24) & 0xff).toInt); out.write(((c >>> 16) & 0xff).toInt)
      out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    }
    val ihdr = new Array[Byte](13)
    def be32(a: Array[Byte], p: Int, v: Int): Unit = {
      a(p) = ((v >>> 24) & 0xff).toByte; a(p + 1) = ((v >>> 16) & 0xff).toByte
      a(p + 2) = ((v >>> 8) & 0xff).toByte; a(p + 3) = (v & 0xff).toByte
    }
    be32(ihdr, 0, width); be32(ihdr, 4, height)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    chunk("IHDR", ihdr)
    if (plte != null) chunk("PLTE", plte)
    chunk("IDAT", zbuf)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def packRows(vals: Array[Byte], width: Int, height: Int, d: Int): Array[Byte] = {
    val rb = (width * d + 7) / 8
    val raw = new Array[Byte]((rb + 1) * height) // filter 0 per row
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val bitPos = x * d
        val at = y * (rb + 1) + 1 + (bitPos >> 3)
        raw(at) = (raw(at) | ((vals(y * width + x) & ((1 << d) - 1)) <<
          (8 - d - (bitPos & 7)))).toByte
        x += 1
      }
      y += 1
    }
    raw
  }

  /** Low-bit gray twin: `vals` holds one sample 0..2^d-1 per pixel;
    * packed MSB-first at depth d ∈ {1,2,4}, color type 0. */
  def encodeGrayLowBit(vals: Array[Byte], width: Int, height: Int, d: Int): Array[Byte] = {
    require(d == 1 || d == 2 || d == 4, "low-bit depths only")
    require(vals.length == width * height, "bad image shape")
    assemble(width, height, d, 0, null, packRows(vals, width, height, d))
  }

  /** Low-bit palette twin: `idx` holds one palette index per pixel at
    * depth d ∈ {1,2,4}, color type 3; `palette` is RGB triples. */
  def encodeIndexed(idx: Array[Byte], width: Int, height: Int, d: Int,
      palette: Array[Byte]): Array[Byte] = {
    require(d == 1 || d == 2 || d == 4, "low-bit depths only")
    require(idx.length == width * height, "bad image shape")
    require(palette.length % 3 == 0 && palette.length <= 768, "bad palette")
    assemble(width, height, d, 3, palette, packRows(idx, width, height, d))
  }
}
