package graft.codec

/** From-scratch Windows BMP (DIB) codec — the remaining uncompressed
  * legacy format a crawl's image population carries (screenshots, old
  * CMS uploads). With [[Tiff]] this closes out the uncompressed
  * containers; everything left fenced (WebP/AVIF) needs a real video
  * codec stack.
  *
  * Decode: BITMAPFILEHEADER + BITMAPINFOHEADER (40-byte) or the larger
  * V4/V5 headers (extra fields skipped); BI_RGB at bit depths 1/4/8
  * (palette-resolved to RGB, sub-byte packed MSB-first), 24 (BGR) and
  * 32 (BGRX — alpha dropped); BI_RLE8 (8-bit) and BI_RLE4 (4-bit)
  * run-length streams per the Windows GDI encoding: encoded runs,
  * absolute runs (word-aligned), end-of-line / end-of-bitmap / delta
  * escapes, with pixels skipped by EOL/delta reading as palette entry
  * 0 (what every Windows-era decoder shows); bottom-up (positive
  * height) and top-down (negative height — BI_RGB only; RLE is
  * spec-bottom-up) row orders; 4-byte row stride padding. 16-bit rows
  * decode too: BI_RGB 16 = X1R5G5B5, and BI_BITFIELDS (compression 3)
  * with the three channel masks read from the header — contiguous
  * masks only (555/565 and friends), channels scaled v*255/max with
  * round-half-up, matching the JDK's DirectColorModel scaling so the
  * ImageIO differential is exact. Output shape
  * matches [[Jpeg.Image]] (always nc=3 — BMP is a color format).
  *
  * Encode (fixture/round-trip twin): 24-bit BI_RGB bottom-up, the
  * canonical BMP every tool writes, plus [[encodeRle8]]/[[encodeRle4]]
  * twins for the RLE differential specs. Lossless, so round-trips are
  * bit-exact and SQL oracles can state decoded pixels directly.
  */
object Bmp {

  def isBmp(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 && b(0) == 'B' && b(1) == 'M'

  private def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long = u16(b, p).toLong | (u16(b, p + 2).toLong << 16)
  private def s32(b: Array[Byte], p: Int): Int = u32(b, p).toInt

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"bmp: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!isBmp(b)) return Left("bmp: bad signature")
    if (b.length < 54) return Left("bmp: truncated header")
    val pixOff = u32(b, 10)
    val hdrSize = u32(b, 14).toInt
    if (hdrSize < 40) return Left(s"bmp: header size $hdrSize unsupported (BITMAPCOREHEADER)")
    val width = s32(b, 18)
    val rawHeight = s32(b, 22)
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    val planes = u16(b, 26)
    val bpp = u16(b, 28)
    val compression = u32(b, 30).toInt
    if (planes != 1) return Left("bmp: planes != 1")
    if (compression != 0 && compression != 1 && compression != 2 && compression != 3)
      return Left(s"bmp: compression $compression unsupported")
    if (compression == 1 && bpp != 8) return Left("bmp: BI_RLE8 requires 8-bit")
    if (compression == 2 && bpp != 4) return Left("bmp: BI_RLE4 requires 4-bit")
    if (compression == 3 && bpp != 16 && bpp != 32)
      return Left("bmp: BI_BITFIELDS requires 16/32-bit")
    if ((compression == 1 || compression == 2) && topDown)
      return Left("bmp: top-down RLE is invalid")
    if (width <= 0 || height == 0) return Left("bmp: bad dimensions")
    if (width.toLong * height > Streams.MaxDecodedBytes / 4) return Left("bmp: image too large")
    if (bpp != 1 && bpp != 4 && bpp != 8 && bpp != 16 && bpp != 24 && bpp != 32)
      return Left(s"bmp: $bpp-bit depth unsupported")

    // channel masks: BI_BITFIELDS reads them from the 3 DWORDs after the
    // info header (or inside V4+ headers at the same offsets); BI_RGB 16
    // is the fixed X1R5G5B5 layout
    var maskR = 0x7c00; var maskG = 0x03e0; var maskB = 0x001f
    if (compression == 3) {
      val mOff = if (hdrSize >= 52) 14 + 40 else 14 + hdrSize
      if (mOff + 12 > b.length) return Left("bmp: masks overrun file")
      maskR = u32(b, mOff).toInt; maskG = u32(b, mOff + 4).toInt; maskB = u32(b, mOff + 8).toInt
      def contiguous(m: Int): Boolean =
        m != 0 && { val s0 = java.lang.Integer.numberOfTrailingZeros(m)
          val run = m >>> s0; (run & (run + 1)) == 0 }
      if (!contiguous(maskR) || !contiguous(maskG) || !contiguous(maskB))
        return Left("bmp: non-contiguous bitfield masks unsupported")
    } else if (bpp == 32) { maskR = 0xff0000; maskG = 0xff00; maskB = 0xff }
    if (compression == 3 && bpp == 32 &&
      (maskR != 0xff0000 || maskG != 0xff00 || maskB != 0xff))
      return Left("bmp: non-BGRX 32-bit bitfields unsupported")

    // palette for indexed depths: colorsUsed BGRX entries after the header
    var palette: Array[Byte] = null
    if (bpp <= 8) {
      val maxEntries = 1 << bpp
      val used = {
        val cu = u32(b, 46).toInt
        if (cu == 0) maxEntries else cu
      }
      if (used < 1 || used > maxEntries) return Left("bmp: bad palette size")
      val palOff = 14 + hdrSize
      if (palOff + 4 * used > b.length) return Left("bmp: palette overruns file")
      palette = new Array[Byte](maxEntries * 3)
      var i = 0
      while (i < used) {
        palette(3 * i) = b(palOff + 4 * i + 2)     // R (stored BGRX)
        palette(3 * i + 1) = b(palOff + 4 * i + 1) // G
        palette(3 * i + 2) = b(palOff + 4 * i)     // B
        i += 1
      }
    }

    if (pixOff < 0 || pixOff > b.length) return Left("bmp: bad pixel offset")
    val off = pixOff.toInt
    val out = new Array[Byte](width * height * 3)

    if (compression == 1 || compression == 2) {
      // ---- RLE4/RLE8 into a bottom-up index plane; unwritten = 0 ----
      val idxPlane = new Array[Byte](width * height) // (yUp * width + x)
      var x = 0
      var yUp = 0 // row from the bottom, per spec
      var p = off
      var done = false
      def put(v: Int): Either[String, Unit] = {
        if (x >= width || yUp >= height) Left("bmp: RLE writes outside the image")
        else { idxPlane(yUp * width + x) = v.toByte; x += 1; Right(()) }
      }
      while (!done) {
        if (p + 2 > b.length) return Left("bmp: truncated RLE stream")
        val c = b(p) & 0xff
        val v = b(p + 1) & 0xff
        p += 2
        if (c > 0) { // encoded run: c pixels
          var k = 0
          while (k < c) {
            val px = if (compression == 1) v
              else if ((k & 1) == 0) v >> 4 else v & 0x0f
            put(px) match { case Left(e) => return Left(e); case _ => () }
            k += 1
          }
        } else v match {
          case 0 => x = 0; yUp += 1 // end of line
            if (yUp > height) return Left("bmp: RLE past last row")
          case 1 => done = true // end of bitmap
          case 2 => // delta: skip (dx, dy) — skipped pixels stay 0
            if (p + 2 > b.length) return Left("bmp: truncated RLE delta")
            x += b(p) & 0xff; yUp += b(p + 1) & 0xff
            p += 2
            if (x > width || yUp > height) return Left("bmp: RLE delta outside image")
          case n => // absolute run: n literal pixels, word-aligned
            val nBytes = if (compression == 1) n else (n + 1) / 2
            val padded = nBytes + (nBytes & 1)
            if (p + padded > b.length) return Left("bmp: truncated RLE absolute run")
            var k = 0
            while (k < n) {
              val px = if (compression == 1) b(p + k) & 0xff
                else ((b(p + k / 2) & 0xff) >> (if ((k & 1) == 0) 4 else 0)) & 0x0f
              put(px) match { case Left(e) => return Left(e); case _ => () }
              k += 1
            }
            p += padded
        }
      }
      var row = 0
      while (row < height) {
        val srcUp = height - 1 - row
        var i = 0
        while (i < width) {
          val idx = idxPlane(srcUp * width + i) & 0xff
          val dst = (row * width + i) * 3
          out(dst) = palette(3 * idx)
          out(dst + 1) = palette(3 * idx + 1)
          out(dst + 2) = palette(3 * idx + 2)
          i += 1
        }
        row += 1
      }
      return Right(Jpeg.Image(width, height, 3, out))
    }

    // ---- BI_RGB ----
    val stride = ((width.toLong * bpp + 31) / 32 * 4).toInt
    if (pixOff + stride.toLong * height > b.length)
      return Left("bmp: pixel data overruns file")
    var row = 0
    while (row < height) {
      val srcRow = if (topDown) row else height - 1 - row
      val rp = off + srcRow * stride
      var x = 0
      while (x < width) {
        val dst = (row * width + x) * 3
        bpp match {
          case 1 | 4 | 8 =>
            val idx =
              if (bpp == 8) b(rp + x) & 0xff
              else {
                val bitPos = x * bpp
                ((b(rp + (bitPos >> 3)) & 0xff) >> (8 - bpp - (bitPos & 7))) & ((1 << bpp) - 1)
              }
            out(dst) = palette(3 * idx)
            out(dst + 1) = palette(3 * idx + 1)
            out(dst + 2) = palette(3 * idx + 2)
          case 16 =>
            val v = (b(rp + 2 * x) & 0xff) | ((b(rp + 2 * x + 1) & 0xff) << 8)
            def chan(mask: Int): Int = {
              val sh = java.lang.Integer.numberOfTrailingZeros(mask)
              val mx = mask >>> sh
              val c = (v & mask) >>> sh
              (c * 255 + mx / 2) / mx // round-half-up = DirectColorModel scaling
            }
            out(dst) = chan(maskR).toByte
            out(dst + 1) = chan(maskG).toByte
            out(dst + 2) = chan(maskB).toByte
          case 24 =>
            out(dst) = b(rp + 3 * x + 2)     // R (stored BGR)
            out(dst + 1) = b(rp + 3 * x + 1) // G
            out(dst + 2) = b(rp + 3 * x)     // B
          case _ => // 32: BGRX (or bitfields — masks byte-aligned here)
            out(dst) = b(rp + 4 * x + 2)
            out(dst + 1) = b(rp + 4 * x + 1)
            out(dst + 2) = b(rp + 4 * x)
        }
        x += 1
      }
      row += 1
    }
    Right(Jpeg.Image(width, height, 3, out))
  }

  /** Encode interleaved RGB as the canonical 24-bit bottom-up BI_RGB BMP. */
  def encode(rgb: Array[Byte], width: Int, height: Int): Array[Byte] = {
    require(rgb.length == width * height * 3, "pixel buffer size mismatch")
    val stride = ((width * 3 + 3) / 4) * 4
    val dataLen = stride * height
    val out = new Array[Byte](54 + dataLen)
    def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte }
    def le32(p: Int, v: Int): Unit = { le16(p, v & 0xffff); le16(p + 2, (v >>> 16) & 0xffff) }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataLen) // file size
    le32(10, 54)          // pixel data offset
    le32(14, 40)          // BITMAPINFOHEADER
    le32(18, width)
    le32(22, height)      // positive: bottom-up
    le16(26, 1)           // planes
    le16(28, 24)          // bpp
    le32(30, 0)           // BI_RGB
    le32(34, dataLen)
    var row = 0
    while (row < height) {
      val rp = 54 + (height - 1 - row) * stride
      var x = 0
      while (x < width) {
        val src = (row * width + x) * 3
        out(rp + 3 * x) = rgb(src + 2)     // B
        out(rp + 3 * x + 1) = rgb(src + 1) // G
        out(rp + 3 * x + 2) = rgb(src)     // R
        x += 1
      }
      row += 1
    }
    out
  }

  // header+palette prefix shared by the RLE twins
  private def indexedHeader(width: Int, height: Int, bpp: Int, compression: Int,
      palette: Array[Byte], dataLen: Int): Array[Byte] = {
    val n = 1 << bpp
    val palBytes = 4 * n
    val out = new Array[Byte](54 + palBytes)
    def le16(p: Int, v: Int): Unit = { out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte }
    def le32(p: Int, v: Int): Unit = { le16(p, v & 0xffff); le16(p + 2, (v >>> 16) & 0xffff) }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + palBytes + dataLen)
    le32(10, 54 + palBytes)
    le32(14, 40)
    le32(18, width); le32(22, height)
    le16(26, 1); le16(28, bpp)
    le32(30, compression)
    le32(34, dataLen)
    le32(46, n) // colorsUsed
    var i = 0
    while (i < n && 3 * i + 2 < palette.length) {
      out(54 + 4 * i) = palette(3 * i + 2)     // B
      out(54 + 4 * i + 1) = palette(3 * i + 1) // G
      out(54 + 4 * i + 2) = palette(3 * i)     // R
      i += 1
    }
    out
  }

  /** RLE8 twin: encoded runs per row of equal-pixel stretches, EOL after
    * each row, EOB at the end — the canonical GDI shape. `idx` is one
    * palette index per pixel, TOP-DOWN input (encoded bottom-up). */
  def encodeRle8(idx: Array[Byte], width: Int, height: Int, palette: Array[Byte]): Array[Byte] = {
    require(idx.length == width * height, "pixel buffer size mismatch")
    val body = new java.io.ByteArrayOutputStream()
    var yUp = 0
    while (yUp < height) {
      val row = height - 1 - yUp // source top-down row for this bottom-up line
      var x = 0
      while (x < width) {
        val v = idx(row * width + x) & 0xff
        var run = 1
        while (x + run < width && run < 255 && (idx(row * width + x + run) & 0xff) == v) run += 1
        body.write(run); body.write(v)
        x += run
      }
      body.write(0); body.write(if (yUp == height - 1) 1 else 0) // EOL / EOB
      yUp += 1
    }
    indexedHeader(width, height, 8, 1, palette, body.size()) ++ body.toByteArray
  }

  /** RLE4 twin: encoded runs of alternating-nibble pairs. */
  def encodeRle4(idx: Array[Byte], width: Int, height: Int, palette: Array[Byte]): Array[Byte] = {
    require(idx.length == width * height, "pixel buffer size mismatch")
    val body = new java.io.ByteArrayOutputStream()
    var yUp = 0
    while (yUp < height) {
      val row = height - 1 - yUp
      var x = 0
      while (x < width) {
        val a = idx(row * width + x) & 0x0f
        val bNib = if (x + 1 < width) idx(row * width + x + 1) & 0x0f else a
        // run of the alternating pair (a,b,a,b,...)
        var run = 1
        while (x + run < width && run < 254 &&
          (idx(row * width + x + run) & 0x0f) == (if ((run & 1) == 0) a else bNib)) run += 1
        body.write(run); body.write((a << 4) | bNib)
        x += run
      }
      body.write(0); body.write(if (yUp == height - 1) 1 else 0)
      yUp += 1
    }
    indexedHeader(width, height, 4, 2, palette, body.size()) ++ body.toByteArray
  }
}
