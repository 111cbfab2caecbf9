package graft.codec

/** From-scratch JBIG2 (ITU-T T.88) decoder for the subset that carries
  * scanned-document PDFs' generic-region payloads, plus an encoder twin
  * for round-trip testing and oracle fixtures.
  *
  * Scope (honest fences, per the X7 error-as-data rule):
  *  - EMBEDDED organization only (what PDF's /JBIG2Decode carries: bare
  *    segments, no file header), with optional /JBIG2Globals prepended.
  *  - Generic region segments, BOTH codings:
  *      * MMR = 1 → ITU-T T.6 two-dimensional coding, decoded by the
  *        repo's [[CcittG4]] — which is differential-tested against the
  *        JDK's independent TIFF-fax implementation, so this leg is
  *        externally pinned end to end.
  *      * MMR = 0 → MQ arithmetic coding (T.88 Annex E) with generic
  *        templates 0–3 and TPGDON typical prediction, NOMINAL adaptive
  *        pixels only (what real encoders emit; non-nominal AT is a
  *        typed error, not a wrong decode — see note below).
  *  - Symbol dictionaries + text regions, BOTH codings, one body per
  *    segment type (see [[Coding]]): SDHUFF dictionaries (standard tables B.1–B.5 +
  *    stream-defined custom type-53 tables; collective bitmaps MMR via
  *    the JDK-pinned [[CcittG4]] or uncompressed) and SBHUFF text
  *    regions (custom FS/DS/DT tables + the runcode symbol-ID code
  *    machinery). Standard tables B.6–B.15, refinement/aggregation,
  *    transposition, halftones stay typed errors — see the standard-
  *    table note at the table definitions: a mistyped Annex B table
  *    decodes WRONG rather than failing, so only the tables whose
  *    transcription passes BOTH structural self-checks (exact Kraft
  *    completeness + range-low chaining, asserted in Jbig2Spec) ship.
  *
  * Verification posture: no independent JBIG2 implementation exists in
  * this environment (no jbig2dec/poppler/mupdf; the JDK has none), so
  * unlike the other codecs the MQ path cannot be differential-pinned.
  * What IS pinned: (a) the MMR legs — generic regions AND huffman
  * collective bitmaps — ride the JDK-pinned G4 decoder;
  * (b) encoder/decoder round-trips across all templates, TPGDON, and
  * multi-segment pages; (c) the MQ coder is exercised against the
  * T.88-style software-conventions invariants (byte stuffing after
  * 0xFF, carry propagation) by construction tests; (d) mutation fuzz
  * never throws. The Qe state table is transcribed from T.88 Table E.1.
  *
  * Context packing note: the per-pixel context is a bijective packing
  * of the template neighborhood; ANY fixed bijection decodes a
  * conformant stream identically because MQ statistics are per-context
  * and the relabeling is consistent — except the TPGDON pseudo-context,
  * whose VALUE is normative. With nominal AT, raster-order packing
  * (MSB = top-left) coincides with the spec's figures, so the published
  * pseudo-contexts (0x9B25 / 0x0795 / 0xE5 / 0x195) apply; that is why
  * non-nominal AT is fenced rather than guessed.
  *
  * Reference behavior being replaced: the reference rasterizes scanned
  * PDFs for a vision LLM (/root/reference/mvp/utils/pdf_processor.py);
  * this library instead decodes the dominant scanned-page codec
  * deterministically (T24 ships JBIG2 payloads with typed metadata;
  * this turns them into pixels).
  */
object Jbig2 {

  // ------------------------------------------------------------ MQ coder

  // T.88 Table E.1: (Qe, NMPS, NLPS, SWITCH)
  private val Qe = Array(
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601)
  private val Nmps = Array(
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps = Array(
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14,
    15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch = Array(
    1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** MQ arithmetic decoder (T.88 E.3). Context state lives in the
    * caller-owned arrays (index, mps) so region decoders can keep many
    * contexts. Bytes past the end read as 0xFF per the convention, and so
    * does a marker (0xFF, then a byte above 0x8F): neither advances. A
    * valid stream needs few such fills, so past [[MaxFills]] `decode`
    * throws [[MQExhausted]], which ends the segment with a typed Left
    * instead of decoding a hostile region's every pixel from nothing. */
  final class MQDecoder(data: Array[Byte], off: Int, len: Int) {
    private var bp = off
    private val end = off + len
    private var c = 0L
    private var a = 0
    private var ct = 0
    private var fills = 0
    private def byteAt(i: Int): Int = if (i < end) data(i) & 0xff else 0xff
    // INITDEC
    c = byteAt(bp).toLong << 16
    byteIn()
    c <<= 7; ct -= 7; a = 0x8000

    private def byteIn(): Unit = {
      if (byteAt(bp) == 0xff) {
        if (byteAt(bp + 1) > 0x8f) {
          fills += 1
          if (fills > MaxFills) throw new MQExhausted
          c += 0xff00; ct = 8
        }
        else { bp += 1; c += byteAt(bp).toLong << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp).toLong << 8; ct = 8 }
    }

    def decode(ix: Array[Int], mps: Array[Byte], cx: Int): Int = {
      val i = ix(cx)
      val qe = Qe(i)
      a -= qe
      var d = 0
      if (((c >>> 16) & 0xffff) < qe) {
        // LPS path or MPS exchange
        if (a < qe) { d = mps(cx); ix(cx) = Nmps(i) }
        else {
          d = 1 - mps(cx)
          if (Switch(i) == 1) mps(cx) = (1 - mps(cx)).toByte
          ix(cx) = Nlps(i)
        }
        a = qe
        renorm()
      } else {
        c -= qe.toLong << 16
        if ((a & 0x8000) == 0) {
          if (a < qe) {
            d = 1 - mps(cx)
            if (Switch(i) == 1) mps(cx) = (1 - mps(cx)).toByte
            ix(cx) = Nlps(i)
          } else { d = mps(cx); ix(cx) = Nmps(i) }
          renorm()
        } else d = mps(cx)
      }
      d
    }

    private def renorm(): Unit = {
      var go = true
      while (go) {
        if (ct == 0) byteIn()
        a <<= 1; c = (c << 1) & 0xffffffffL; ct -= 1
        go = (a & 0x8000) == 0
      }
    }
  }

  /** Fills an [[MQDecoder]] may feed before it gives up: 16 times the
    * most any valid stream needed (2, over the 25k streams of Jbig2Spec,
    * FuzzCampaign, the q249/q251/q262 generators and the round-trip
    * sweeps). A fill feeds 8 bits, which an all-MPS context can stretch
    * over about 260k decisions. */
  private final val MaxFills = 32

  /** An [[MQDecoder]] ran past [[MaxFills]]. */
  private[graft] final class MQExhausted
      extends RuntimeException("jbig2: arithmetic data exhausted", null, false, false)

  /** MQ arithmetic encoder (T.88 E.2) — the round-trip twin. The B
    * register is the last element of `buf`; element 0 is a sentinel
    * pre-start byte that absorbs a first-byteout carry (stripped at
    * flush when untouched — the stuffing rule means a carry can never
    * propagate past any 0xFF, so one sentinel suffices). */
  final class MQEncoder {
    private val buf = scala.collection.mutable.ArrayBuffer[Int](0)
    private var c = 0L
    private var a = 0x8000
    private var ct = 12

    def encode(ix: Array[Int], mps: Array[Byte], cx: Int, d: Int): Unit = {
      val i = ix(cx)
      val qe = Qe(i)
      if (d == mps(cx)) { // CODEMPS
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          ix(cx) = Nmps(i)
          renorm()
        } else c += qe
      } else { // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Switch(i) == 1) mps(cx) = (1 - mps(cx)).toByte
        ix(cx) = Nlps(i)
        renorm()
      }
    }

    private def renorm(): Unit = {
      var go = true
      while (go) {
        a <<= 1; c <<= 1; ct -= 1
        if (ct == 0) byteOut()
        go = (a & 0x8000) == 0
      }
    }

    private def byteOut(): Unit = {
      if (buf.last == 0xff) { // stuffing: 7 bits follow an 0xFF, the carry above them
        buf += (c >> 20).toInt; c &= 0xfffff; ct = 7
      } else {
        if (c < 0x8000000L) { buf += ((c >> 19) & 0xff).toInt; c &= 0x7ffff; ct = 8 }
        else {
          buf(buf.length - 1) += 1 // carry into B
          if (buf.last == 0xff) { c &= 0x7ffffff; buf += (c >> 20).toInt; c &= 0xfffff; ct = 7 }
          else { buf += ((c >> 19) & 0xff).toInt; c &= 0x7ffff; ct = 8 }
        }
      }
    }

    def flush(): Array[Byte] = {
      // SETBITS
      val tempC = c + a
      c |= 0xffff
      if (c >= tempC) c -= 0x8000
      c <<= ct; byteOut()
      c <<= ct; byteOut()
      // strip the sentinel if the first byteout never carried into it;
      // trailing bytes that would read as 0xFF are supplied virtually by
      // the decoder's past-end convention, so no explicit terminator
      val start = if (buf(0) == 0) 1 else 0
      buf.drop(start).map(_.toByte).toArray
    }
  }

  // ------------------------------------------------------------ templates

  // fixed neighborhoods per template (dx, dy), nominal AT included, in
  // raster order (row -2, row -1, row 0), MSB = first listed
  private val Templates: Array[Array[(Int, Int)]] = Array(
    // template 0: 16 px, AT nominal A1(3,-1) A2(-3,-1) A3(2,-2) A4(-2,-2)
    Array((-2, -2), (-1, -2), (0, -2), (1, -2), (2, -2),
      (-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), (3, -1),
      (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    // template 1: 13 px, AT nominal A1(3,-1)
    Array((-1, -2), (0, -2), (1, -2), (2, -2),
      (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), (3, -1),
      (-3, 0), (-2, 0), (-1, 0)),
    // template 2: 10 px, AT nominal A1(2,-1)
    Array((-1, -2), (0, -2), (1, -2),
      (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
      (-2, 0), (-1, 0)),
    // template 3: 10 px, single line, AT nominal A1(2,-1)
    Array((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
      (-4, 0), (-3, 0), (-2, 0), (-1, 0)))

  private val TpgdonContext = Array(0x9b25, 0x0795, 0xe5, 0x195)

  /** Nominal AT coordinates per template, as serialized in the segment. */
  private[graft] val NominalAt: Array[Array[(Int, Int)]] = Array(
    Array((3, -1), (-3, -1), (2, -2), (-2, -2)),
    Array((3, -1)), Array((2, -1)), Array((2, -1)))

  // ------------------------------------------------------------ generic region

  private[graft] def genericCtxSize(template: Int): Int =
    math.max(1 << Templates(template).length, TpgdonContext(template) + 1)

  /** Decode one arithmetic generic region into a row-major bit-per-byte
    * bitmap (1 = black). */
  private[graft] def decodeGenericArith(data: Array[Byte], off: Int, len: Int,
      w: Int, h: Int, template: Int, tpgdon: Boolean): Array[Byte] = {
    val ctxSize = genericCtxSize(template)
    val ix = new Array[Int](ctxSize)
    val mps = new Array[Byte](ctxSize)
    val dec = new MQDecoder(data, off, len)
    decodeGenericWith(dec, ix, mps, w, h, template, tpgdon)
  }

  /** Same, but continuing an EXISTING MQ decoder + context state — the
    * symbol-dictionary path: all symbol bitmaps of a dictionary share
    * one arithmetic decoder and one generic context set (T.88 6.5.8). */
  private[graft] def decodeGenericWith(dec: MQDecoder, ix: Array[Int], mps: Array[Byte],
      w: Int, h: Int, template: Int, tpgdon: Boolean): Array[Byte] = {
    val tpl = Templates(template)
    val bm = new Array[Byte](w * h)
    var ltp = 0
    var y = 0
    while (y < h) {
      if (tpgdon) {
        val sltp = dec.decode(ix, mps, TpgdonContext(template))
        ltp ^= sltp
      }
      if (tpgdon && ltp == 1) {
        // typical row: copy the row above (all-0 for the first row)
        if (y > 0) System.arraycopy(bm, (y - 1) * w, bm, y * w, w)
      } else {
        var x = 0
        while (x < w) {
          var cx = 0
          var k = 0
          while (k < tpl.length) {
            val (dx, dy) = tpl(k)
            val xx = x + dx; val yy = y + dy
            val bit =
              if (xx < 0 || xx >= w || yy < 0) 0
              else bm(yy * w + xx)
            cx = (cx << 1) | bit
            k += 1
          }
          bm(y * w + x) = dec.decode(ix, mps, cx).toByte
          x += 1
        }
      }
      y += 1
    }
    bm
  }

  /** Encode a bitmap as one arithmetic generic region (twin of
    * [[decodeGenericArith]]). */
  private def encodeGenericArith(bm: Array[Byte], w: Int, h: Int,
      template: Int, tpgdon: Boolean): Array[Byte] = {
    val ctxSize = genericCtxSize(template)
    val ix = new Array[Int](ctxSize)
    val mps = new Array[Byte](ctxSize)
    val enc = new MQEncoder
    encodeGenericWith(enc, ix, mps, bm, w, h, template, tpgdon)
    enc.flush()
  }

  /** Twin of [[decodeGenericWith]]: append one generic bitmap to an
    * existing encoder + shared context state (no flush). */
  private def encodeGenericWith(enc: MQEncoder, ix: Array[Int], mps: Array[Byte],
      bm: Array[Byte], w: Int, h: Int, template: Int, tpgdon: Boolean): Unit = {
    val tpl = Templates(template)
    var ltp = 0
    var y = 0
    while (y < h) {
      if (tpgdon) {
        // typical iff the row equals the previous row (first row: all-0)
        var typical = true
        var x = 0
        while (x < w && typical) {
          val prev = if (y > 0) bm((y - 1) * w + x) else 0: Byte
          if (bm(y * w + x) != prev) typical = false
          x += 1
        }
        val want = if (typical) 1 else 0
        enc.encode(ix, mps, TpgdonContext(template), want ^ ltp)
        ltp = want
      }
      if (!(tpgdon && ltp == 1)) {
        var x = 0
        while (x < w) {
          var cx = 0
          var k = 0
          while (k < tpl.length) {
            val (dx, dy) = tpl(k)
            val xx = x + dx; val yy = y + dy
            val bit =
              if (xx < 0 || xx >= w || yy < 0) 0
              else bm(yy * w + xx)
            cx = (cx << 1) | bit
            k += 1
          }
          enc.encode(ix, mps, cx, bm(y * w + x))
          x += 1
        }
      }
      y += 1
    }
  }

  // ------------------------------------------------ arithmetic integers

  /** One IAx integer-decoding context (T.88 A.2): 512 adaptive states
    * walked by the PREV register. */
  private[graft] final class IntCtx {
    val ix = new Array[Int](512)
    val mps = new Array[Byte](512)
  }

  private def nextPrev(prev: Int, b: Int): Int =
    if (prev < 256) (prev << 1) | b else ((((prev << 1) | b) & 511) | 256)

  /** Decode one IAx integer; None = OOB. */
  private[graft] def decodeInt(dec: MQDecoder, cx: IntCtx): Option[Int] = {
    var prev = 1
    def bit(): Int = {
      val b = dec.decode(cx.ix, cx.mps, prev)
      prev = nextPrev(prev, b)
      b
    }
    def bits(n: Int): Int = { // MSB-first
      var v = 0
      var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }
    val sign = bit()
    val v =
      if (bit() == 0) bits(2)
      else if (bit() == 0) bits(4) + 4
      else if (bit() == 0) bits(6) + 20
      else if (bit() == 0) bits(8) + 84
      else if (bit() == 0) bits(12) + 340
      else bits(32) + 4436
    if (sign == 1 && v == 0) None
    else Some(if (sign == 1) -v else v)
  }

  /** Twin of [[decodeInt]]; value = None encodes OOB. */
  private def encodeInt(enc: MQEncoder, cx: IntCtx, value: Option[Int]): Unit = {
    var prev = 1
    def bit(b: Int): Unit = {
      enc.encode(cx.ix, cx.mps, prev, b)
      prev = nextPrev(prev, b)
    }
    def bits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bit((v >>> k) & 1); k -= 1 }
    }
    value match {
      case None => bit(1); bit(0); bits(0, 2) // OOB = negative zero
      case Some(x) =>
        bit(if (x < 0) 1 else 0)
        val v = math.abs(x)
        if (v < 4) { bit(0); bits(v, 2) }
        else if (v < 20) { bit(1); bit(0); bits(v - 4, 4) }
        else if (v < 84) { bit(1); bit(1); bit(0); bits(v - 20, 6) }
        else if (v < 340) { bit(1); bit(1); bit(1); bit(0); bits(v - 84, 8) }
        else if (v < 4436) { bit(1); bit(1); bit(1); bit(1); bit(0); bits(v - 340, 12) }
        else { bit(1); bit(1); bit(1); bit(1); bit(1); bits(v - 4436, 32) }
    }
  }

  /** Symbol-id decode (T.88 A.3): a plain prefix walk of symCodeLen
    * adaptive bits. */
  private[graft] def decodeIaid(dec: MQDecoder, ctx: IntCtx, symCodeLen: Int): Int = {
    var prev = 1
    var k = 0
    while (k < symCodeLen) {
      val b = dec.decode(ctx.ix, ctx.mps, prev)
      prev = (prev << 1) | b
      k += 1
    }
    prev - (1 << symCodeLen)
  }

  private def encodeIaid(enc: MQEncoder, ctx: IntCtx, symCodeLen: Int, id: Int): Unit = {
    var prev = 1
    var k = symCodeLen - 1
    while (k >= 0) {
      val b = (id >>> k) & 1
      enc.encode(ctx.ix, ctx.mps, prev, b)
      prev = (prev << 1) | b
      k -= 1
    }
  }

  // ------------------------------------------------------------ huffman (T.88 Annex B)

  /** One huffman-table line. kind: 0 normal (value = rangeLow + bits),
    * 1 lower-range (value = rangeLow - 32-bit offset), 2 upper-range
    * (value = rangeLow + 32-bit offset), 3 OOB. prefLen 0 = unused. */
  private[graft] final case class HuffLine(prefLen: Int, rangeLen: Int, rangeLow: Int, kind: Int = 0)

  /** Canonical prefix-code table per T.88 B.3: codes assigned by
    * ascending prefix length, table order within a length. A code of
    * length `len` is `first(len)` plus its place among that length's
    * lines, so decoding costs one range check per bit read. */
  private[graft] final class HuffTable(val lines: Array[HuffLine]) {
    val codes: Array[Int] = new Array[Int](lines.length)
    private val maxLen = lines.map(_.prefLen).max
    /** The line indices of each prefix length, in table order. */
    private val byLen = Array.tabulate(maxLen + 1)(len =>
      lines.indices.filter(i => len > 0 && lines(i).prefLen == len).toArray)
    private val first = new Array[Int](maxLen + 2)
    locally {
      var len = 1
      while (len <= maxLen) {
        first(len + 1) = (first(len) + byLen(len).length) << 1
        for (k <- byLen(len).indices) codes(byLen(len)(k)) = first(len) + k
        len += 1
      }
    }
    /** Right(None) = OOB. */
    def decode(r: HuffReader): Either[String, Option[Int]] = {
      var code = 0
      var len = 0
      while (len < 32) {
        code = (code << 1) | r.bit()
        len += 1
        if (len <= maxLen) {
          val k = code - first(len)
          if (k >= 0 && k < byLen(len).length) {
            val l = lines(byLen(len)(k))
            return l.kind match {
              case 0 => Right(Some(l.rangeLow + r.bits(l.rangeLen)))
              case 1 => Right(Some(l.rangeLow - r.bits(32)))
              case 2 => Right(Some(l.rangeLow + r.bits(32)))
              case _ => Right(None)
            }
          }
        }
      }
      Left("jbig2: invalid huffman code")
    }
    /** Encoder side: emit `value` (or OOB for None) through `w`. */
    def encode(w: HuffWriter, value: Option[Int]): Unit = value match {
      case None =>
        val i = lines.indexWhere(_.kind == 3)
        require(i >= 0, "table has no OOB")
        w.putBits(codes(i), lines(i).prefLen)
      case Some(v) =>
        // choose the matching line: normal ranges first, then lower/upper
        var best = -1
        var i = 0
        while (i < lines.length) {
          val l = lines(i)
          if (l.prefLen > 0 && l.kind == 0 &&
            v >= l.rangeLow && (l.rangeLen >= 32 || v - l.rangeLow < (1 << l.rangeLen)))
            { best = i; i = lines.length }
          else i += 1
        }
        if (best < 0) {
          i = 0
          while (i < lines.length) {
            val l = lines(i)
            if (l.prefLen > 0 && ((l.kind == 1 && v <= l.rangeLow) ||
              (l.kind == 2 && v >= l.rangeLow))) { best = i; i = lines.length }
            else i += 1
          }
        }
        require(best >= 0, s"value $v not representable")
        val l = lines(best)
        w.putBits(codes(best), l.prefLen)
        l.kind match {
          case 0 => w.putBits(v - l.rangeLow, l.rangeLen)
          case 1 => w.putBits(l.rangeLow - v, 32)
          case _ => w.putBits(v - l.rangeLow, 32)
        }
    }
  }

  /** MSB-first bit reader over a byte slice. */
  private[graft] final class HuffReader(b: Array[Byte], val start: Int, val end: Int) {
    var pos: Int = start
    var bitPos: Int = 0
    def bit(): Int = {
      val v = if (pos < end) (b(pos) >> (7 - bitPos)) & 1 else 0
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; pos += 1 }
      v
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def align(): Unit = if (bitPos != 0) { bitPos = 0; pos += 1 }
    def exhausted: Boolean = pos >= end
  }

  /** MSB-first bit writer. */
  private final class HuffWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def putBit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1)
      nBits += 1
      if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
    }
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { putBit((v >> i) & 1); i -= 1 }
    }
    def align(): Unit = while (nBits != 0) putBit(0)
    def writeBytes(bytes: Array[Byte]): Unit = { align(); out.write(bytes, 0, bytes.length) }
    def result(): Array[Byte] = { align(); out.toByteArray }
  }

  /** T.88 Annex B standard tables B.1-B.5. Their published prefix-length
    * sets pass EXACT Kraft completeness and their range lows satisfy
    * low(i+1) = low(i) + 2^rangelen(i) — two independent structural
    * checks asserted in Jbig2Spec. B.6-B.15 (text-region FS/DS/DT
    * standard selections) are typed fences: no independent JBIG2 exists
    * in this environment to pin their prefix lengths against, and a
    * mistyped table decodes WRONG rather than failing — custom tables
    * (fully stream-defined, zero transcription risk) cover those roles.
    */
  private[graft] val TableB1 = new HuffTable(Array(
    HuffLine(1, 4, 0), HuffLine(2, 8, 16), HuffLine(3, 16, 272),
    HuffLine(3, 0, 65808, kind = 2)))
  private[graft] val TableB2 = new HuffTable(Array(
    HuffLine(1, 0, 0), HuffLine(2, 0, 1), HuffLine(3, 0, 2),
    HuffLine(4, 3, 3), HuffLine(5, 6, 11),
    HuffLine(6, 0, 75, kind = 2), HuffLine(6, 0, 0, kind = 3)))
  private[graft] val TableB3 = new HuffTable(Array(
    HuffLine(8, 8, -256), HuffLine(1, 0, 0), HuffLine(2, 0, 1), HuffLine(3, 0, 2),
    HuffLine(4, 3, 3), HuffLine(5, 6, 11),
    HuffLine(8, 0, -257, kind = 1), HuffLine(7, 0, 75, kind = 2),
    HuffLine(6, 0, 0, kind = 3)))
  private[graft] val TableB4 = new HuffTable(Array(
    HuffLine(1, 0, 1), HuffLine(2, 0, 2), HuffLine(3, 0, 3),
    HuffLine(4, 3, 4), HuffLine(5, 6, 12), HuffLine(5, 0, 76, kind = 2)))
  private[graft] val TableB5 = new HuffTable(Array(
    HuffLine(7, 8, -255), HuffLine(1, 0, 1), HuffLine(2, 0, 2), HuffLine(3, 0, 3),
    HuffLine(4, 3, 4), HuffLine(5, 6, 12),
    HuffLine(7, 0, -256, kind = 1), HuffLine(6, 0, 76, kind = 2)))

  /** Structural self-checks for the transcribed standard tables,
    * exposed for Jbig2Spec: (Kraft sum in 2^-32 units, range-chain ok). */
  def tableInvariants: Seq[(String, Long, Boolean)] =
    Seq("B1" -> TableB1, "B2" -> TableB2, "B3" -> TableB3,
      "B4" -> TableB4, "B5" -> TableB5).map { case (name, t) =>
      val kraft = t.lines.filter(_.prefLen > 0)
        .map(l => 1L << (32 - l.prefLen)).sum
      val normals = t.lines.filter(l => l.kind == 0)
      val chain = normals.sliding(2).forall {
        case Array(a, c) => c.rangeLow == a.rangeLow + (1L << a.rangeLen)
        case _ => true
      }
      (name, kraft, chain)
    }

  /** Parse a custom huffman table segment (type 53, T.88 B.5 syntax). */
  private[graft] def parseCustomTable(b: Array[Byte], off: Int, end: Int): Either[String, HuffTable] = {
    if (off + 9 > end) return Left("jbig2: short table segment")
    val flags = b(off) & 0xff
    val htoob = (flags & 1) != 0
    val htps = ((flags >> 1) & 7) + 1
    val htrs = ((flags >> 4) & 7) + 1
    val low = be32(b, off + 1).toInt
    val high = be32(b, off + 5).toInt
    if (low >= high) return Left("jbig2: bad table range")
    val r = new HuffReader(b, off + 9, end)
    val lines = scala.collection.mutable.ArrayBuffer.empty[HuffLine]
    var cur = low
    var guard = 0
    while (cur < high) {
      val pl = r.bits(htps)
      val rl = r.bits(htrs)
      if (rl > 31) return Left("jbig2: bad table range length")
      lines += HuffLine(pl, rl, cur)
      cur = math.toIntExact(cur.toLong + (1L << rl))
      guard += 1
      if (guard > 4096) return Left("jbig2: implausible table size")
    }
    lines += HuffLine(r.bits(htps), 0, low - 1, kind = 1)
    lines += HuffLine(r.bits(htps), 0, high, kind = 2)
    if (htoob) lines += HuffLine(r.bits(htps), 0, 0, kind = 3)
    if (r.pos > end) return Left("jbig2: truncated table segment")
    Right(new HuffTable(lines.toArray))
  }

  // ------------------------------------------------ the two codings

  // Integer roles of symbol dictionaries (T.88 6.5) and text regions
  // (6.4): one IAx context each in the arithmetic coding, one selected
  // table each in the huffman coding. BM (BMSIZE) is huffman's only, IT
  // (CURT) arithmetic's only; ID is IAID's context or the symbol-ID table.
  private final val DH = 0; private final val DW = 1; private final val EX = 2
  private final val BM = 3; private final val DT = 4; private final val FS = 5
  private final val DS = 6; private final val IT = 7; private final val ID = 8
  private final val Roles = 9

  /** How a symbol dictionary's or a text region's data is read. The two
    * codings differ in three places, and each segment body is written
    * once around them:
    *  - how an integer of each role is read ([[int]]);
    *  - how one height class's bitmaps are read: arithmetic decodes one
    *    generic region per symbol as its width arrives, huffman one
    *    collective bitmap after the class's OOB ([[collectiveSymbols]]);
    *  - how CURT and the symbol ID are read: IAIT and IAID, or raw bits
    *    and the stream's symbol-ID table ([[symbolIdTable]]). */
  private sealed abstract class Coding {
    /** Right(None) = OOB. */
    def int(role: Int): Either[String, Option[Int]]
    /** An integer where OOB is an error. */
    def value(role: Int, oob: String): Either[String, Int] = int(role).flatMap(_.toRight(oob))
    /** Whether the data is used up. A huffman reader then yields zero
      * bits, which loops whose counts come from the stream would read
      * forever; an [[MQDecoder]] bounds its own fill. */
    def exhausted: Boolean
  }

  private final class ArithIn(val dec: MQDecoder) extends Coding {
    private val cx = Array.fill(Roles)(new IntCtx)
    def int(role: Int): Either[String, Option[Int]] = Right(decodeInt(dec, cx(role)))
    def symbolId(codeLen: Int): Int = decodeIaid(dec, cx(ID), codeLen)
    def exhausted: Boolean = false
  }

  private final class HuffIn(val r: HuffReader, tables: Map[Int, HuffTable]) extends Coding {
    def int(role: Int): Either[String, Option[Int]] = tables(role).decode(r)
    def exhausted: Boolean = r.exhausted
  }

  /** The encoder's twin of [[Coding]]. */
  private sealed abstract class CodingOut {
    def int(role: Int, v: Option[Int]): Unit
    def bytes(): Array[Byte]
  }

  private final class ArithOut extends CodingOut {
    val enc = new MQEncoder
    private val cx = Array.fill(Roles)(new IntCtx)
    def int(role: Int, v: Option[Int]): Unit = encodeInt(enc, cx(role), v)
    def symbolId(codeLen: Int, id: Int): Unit = encodeIaid(enc, cx(ID), codeLen, id)
    def bytes(): Array[Byte] = enc.flush()
  }

  private final class HuffOut(tables: Map[Int, HuffTable]) extends CodingOut {
    val w = new HuffWriter
    def int(role: Int, v: Option[Int]): Unit = tables(role).encode(w, v)
    def bytes(): Array[Byte] = w.result()
  }

  /** The huffman table selection `sel` names: the next referred custom
    * table when it is `escape`, else `standard(sel)`. */
  private def selectTable(sel: Int, escape: Int, custom: Iterator[HuffTable],
      standard: Int => Either[String, HuffTable]): Either[String, HuffTable] =
    if (sel != escape) standard(sel)
    else if (custom.hasNext) Right(custom.next())
    else Left("jbig2: missing custom table")

  /** SBSYMCODELEN: the bits of an arithmetic symbol ID, at least 1. */
  private def symCodeLen(numSyms: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(numSyms - 1))

  // ------------------------------------------------ symbol dict + text region

  private[graft] final case class SymBitmap(w: Int, h: Int, px: Array[Byte])

  private def be16(b: Array[Byte], p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  /** Whether the AT pixels at `p` are `template`'s nominal ones. */
  private def nominalAt(b: Array[Byte], p: Int, template: Int): Boolean =
    NominalAt(template).indices.map(k => (b(p + 2 * k).toInt, b(p + 2 * k + 1).toInt)) ==
      NominalAt(template).toSeq

  /** A symbol dictionary's data (T.88 7.4.2), in either coding;
    * `inputSyms` are the symbols of referred dictionaries, in segment
    * order. Returns the EXPORTED symbols. Huffman (SDHUFF) table
    * selections: DH 0→B.4 1→B.5, DW 0→B.2 1→B.3, BMSIZE 0→B.1, and DH/DW
    * 3 or BMSIZE 1 → the next referred custom table; EX runs always B.1.
    * Fences: SDREFAGG, non-nominal AT. */
  private def decodeSymbolDict(b: Array[Byte], off: Int, end: Int,
      inputSyms: Vector[SymBitmap],
      customTables: Vector[HuffTable]): Either[String, Vector[SymBitmap]] = {
    if (off + 12 > end) return Left("jbig2: short symbol dict")
    val flags = be16(b, off)
    val huff = (flags & 1) != 0
    val template = (flags >> 10) & 3
    if ((flags & 2) != 0) return Left("jbig2: refinement/aggregate symbol dict unsupported")
    val tables = if (!huff) Map.empty[Int, HuffTable] else {
      val custom = customTables.iterator
      (for {
        dh <- selectTable((flags >> 2) & 3, 3, custom, {
          case 0 => Right(TableB4)
          case 1 => Right(TableB5)
          case _ => Left("jbig2: bad DH table selection")
        })
        dw <- selectTable((flags >> 4) & 3, 3, custom, {
          case 0 => Right(TableB2)
          case 1 => Right(TableB3)
          case _ => Left("jbig2: bad DW table selection")
        })
        bm <- selectTable((flags >> 6) & 1, 1, custom, _ => Right(TableB1))
      } yield Map(DH -> dh, DW -> dw, EX -> TableB1, BM -> bm)).fold(e => return Left(e), t => t)
    }
    val q = off + 2 + (if (huff) 0 else 2 * NominalAt(template).length) // AT pixels
    if (q + 8 > end) return Left("jbig2: short symbol dict")
    if (!huff && !nominalAt(b, off + 2, template))
      return Left("jbig2: non-nominal AT pixels unsupported")
    val numEx = be32(b, q).toInt
    val numNew = be32(b, q + 4).toInt
    if (numNew < 0 || numNew > 100000 || numEx < 0 || numEx > 100000)
      return Left("jbig2: implausible symbol counts")
    val coding =
      if (huff) new HuffIn(new HuffReader(b, q + 8, end), tables)
      else new ArithIn(new MQDecoder(b, q + 8, end - (q + 8)))
    val ctxSize = if (huff) 0 else genericCtxSize(template)
    val gix = new Array[Int](ctxSize)
    val gmps = new Array[Byte](ctxSize)
    val newSyms = Vector.newBuilder[SymBitmap]
    var decoded = 0
    var height = 0
    // cumulative allocation cap: each symbol is individually bounded,
    // but a hostile stream may request MANY large symbols — real
    // dictionaries hold small glyphs, so one page-worth of pixels
    // across the whole dictionary is a generous ceiling (found by the
    // 25k-mutation fuzz campaign as an OOM, not a Left)
    var totalPixels = 0L
    while (decoded < numNew) {
      height += coding.value(DH, "jbig2: OOB height-class delta").fold(e => return Left(e), v => v)
      if (height <= 0 || height > MaxSymbolSide) return Left("jbig2: bad symbol height")
      val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
      var width = 0
      var classWidth = 0L
      var classDone = false
      while (!classDone) coding.int(DW) match {
        case Right(None) => classDone = true
        case Right(Some(dw)) =>
          width += dw
          if (width <= 0 || width > MaxSymbolSide || decoded >= numNew)
            return Left("jbig2: bad symbol width")
          classWidth += width
          if (classWidth * height > MaxClassPixels) return Left("jbig2: height class too large")
          totalPixels += width.toLong * height
          if (totalPixels > MaxPixels) return Left("jbig2: dictionary too large")
          coding match {
            case a: ArithIn => newSyms += SymBitmap(width, height,
              decodeGenericWith(a.dec, gix, gmps, width, height, template, tpgdon = false))
            case _: HuffIn => widths += width
          }
          decoded += 1
        case Left(e) => return Left(e)
      }
      coding match {
        case h: HuffIn if widths.nonEmpty =>
          newSyms ++= collectiveSymbols(b, h, widths.toSeq, height).fold(e => return Left(e), s => s)
        case _ =>
      }
    }
    // export flags: alternating run lengths over input ++ new. A run may
    // legally be 0, so a stream that keeps decoding 0 never advances; no
    // valid stream needs more than 2 * all.length + 2 runs.
    val all = inputSyms ++ newSyms.result()
    val exported = Vector.newBuilder[SymBitmap]
    var exIndex = 0
    var curFlag = false
    var runs = 0
    while (exIndex < all.length) {
      runs += 1
      if (runs > 2 * all.length + 2) return Left("jbig2: too many export runs")
      if (coding.exhausted) return Left("jbig2: truncated export runs")
      val run = coding.value(EX, "jbig2: OOB export run").fold(e => return Left(e), v => v)
      if (run < 0 || exIndex + run > all.length) return Left("jbig2: bad export run")
      if (curFlag) (exIndex until exIndex + run).foreach(i => exported += all(i))
      exIndex += run
      curFlag = !curFlag
    }
    val ex = exported.result()
    if (ex.length != numEx) return Left("jbig2: export count mismatch")
    Right(ex)
  }

  /** One huffman height class's symbols (T.88 6.5.9): BMSIZE, then one
    * collective bitmap as wide as the class, MMR-coded (riding the
    * JDK-pinned [[CcittG4]]) or, when BMSIZE = 0, uncompressed rows
    * padded to bytes; cut into the symbols by their widths. */
  private def collectiveSymbols(b: Array[Byte], h: HuffIn, widths: Seq[Int],
      height: Int): Either[String, Seq[SymBitmap]] = {
    val bmSize = h.int(BM) match {
      case Right(Some(v)) if v >= 0 => v
      case Right(_) => return Left("jbig2: bad BMSIZE")
      case Left(e) => return Left(e)
    }
    val r = h.r
    r.align()
    val tw = widths.sum
    val collective: Array[Byte] =
      if (bmSize == 0) {
        val rowBytes = (tw + 7) / 8
        if (r.pos + rowBytes.toLong * height > r.end)
          return Left("jbig2: truncated collective bitmap")
        val px = new Array[Byte](tw * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < tw) {
            px(y * tw + x) = ((b(r.pos + y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1).toByte
            x += 1
          }
          y += 1
        }
        r.pos += rowBytes * height
        px
      } else {
        if (r.pos + bmSize.toLong > r.end) return Left("jbig2: truncated collective bitmap")
        CcittG4.decode(java.util.Arrays.copyOfRange(b, r.pos, r.pos + bmSize), tw, height) match {
          case Right(px) => r.pos += bmSize; px
          case Left(err) => return Left(s"jbig2: collective mmr: $err")
        }
      }
    var x0 = 0
    Right(widths.map { sw =>
      val px = new Array[Byte](sw * height)
      var y = 0
      while (y < height) {
        System.arraycopy(collective, y * tw + x0, px, y * sw, sw)
        y += 1
      }
      x0 += sw
      SymBitmap(sw, height, px)
    })
  }

  /** A huffman text region's symbol-ID code table (T.88 7.4.3.1.7): 35
    * five-bit runcode lengths → runcode prefix code → per-symbol code
    * lengths with the 32/33/34 repeat codes → canonical symbol-ID prefix
    * code. The reader is byte-aligned after it. */
  private def symbolIdTable(r: HuffReader, numSyms: Int): Either[String, HuffTable] = {
    val runLens = Array.fill(35)(r.bits(5))
    val runTable = new HuffTable(Array.tabulate(35)(i => HuffLine(runLens(i), 0, i)))
    val symLens = new Array[Int](numSyms)
    var si = 0
    var prev = 0
    while (si < numSyms) {
      runTable.decode(r) match {
        case Right(Some(code)) if code <= 31 => symLens(si) = code; prev = code; si += 1
        case Right(Some(code)) => // 32: repeat the previous length; 33, 34: runs of 0
          val rep = code match {
            case 32 => 3 + r.bits(2)
            case 33 => 3 + r.bits(3)
            case _ => 11 + r.bits(7)
          }
          if (si + rep > numSyms) return Left("jbig2: symbol code repeat overrun")
          val len = if (code == 32) prev else 0
          (0 until rep).foreach { _ => symLens(si) = len; si += 1 }
        case _ => return Left("jbig2: bad symbol code length")
      }
    }
    r.align()
    Right(new HuffTable(Array.tabulate(numSyms)(i => HuffLine(symLens(i), 0, i))))
  }

  /** A text region's data (T.88 7.4.3), in either coding, onto a fresh
    * region bitmap. Huffman (SBHUFF) regions take custom FS/DS/DT tables
    * only: the standard B.6-B.15 are typed fences (see the standard-table
    * note). Fences: SBREFINE, TRANSPOSED, combination ops beyond OR,
    * SBDEFPIXEL. */
  private def decodeTextRegion(b: Array[Byte], off: Int, end: Int,
      rw: Int, rh: Int, syms: Vector[SymBitmap],
      customTables: Vector[HuffTable]): Either[String, Array[Byte]] = {
    if (off + 4 > end) return Left("jbig2: short text region")
    val flags = be16(b, off)
    val huff = (flags & 1) != 0
    val logStrips = (flags >> 2) & 3
    val refCorner = (flags >> 4) & 3 // 0 BL, 1 TL, 2 BR, 3 TR
    var dsOffset = (flags >> 10) & 0x1f
    if (dsOffset > 15) dsOffset -= 32 // signed 5-bit
    if ((flags & 2) != 0) return Left("jbig2: refinement text region unsupported")
    if ((flags & 0x40) != 0) return Left("jbig2: transposed text region unsupported")
    if (((flags >> 7) & 3) != 0) return Left("jbig2: text region comb op unsupported")
    if (((flags >> 9) & 1) != 0) return Left("jbig2: SBDEFPIXEL unsupported")
    if (syms.isEmpty) return Left("jbig2: text region without symbols")
    val q = off + (if (huff) 4 else 2) // the huffman flags follow the region flags
    if (q + 4 > end) return Left("jbig2: short text region")
    val tables = if (!huff) Map.empty[Int, HuffTable] else {
      val hf = be16(b, off + 2)
      if (((hf >> 6) & 0xff) != 0) return Left("jbig2: refinement table flags set without refine")
      val custom = customTables.iterator
      (for {
        fs <- selectTable(hf & 3, 3, custom,
          k => Left(s"jbig2: standard FS table B.${6 + k} unsupported"))
        ds <- selectTable((hf >> 2) & 3, 3, custom,
          k => Left(s"jbig2: standard DS table B.${8 + k} unsupported"))
        dt <- selectTable((hf >> 4) & 3, 3, custom,
          k => Left(s"jbig2: standard DT table B.${11 + k} unsupported"))
      } yield Map(FS -> fs, DS -> ds, DT -> dt)).fold(e => return Left(e), t => t)
    }
    val numInstances = be32(b, q).toInt
    if (numInstances < 0 || numInstances > MaxInstances) return Left("jbig2: bad instance count")
    val strips = 1 << logStrips
    val codeLen = symCodeLen(syms.length)
    val coding =
      if (huff) {
        val r = new HuffReader(b, q + 4, end)
        new HuffIn(r, tables + (ID -> symbolIdTable(r, syms.length).fold(e => return Left(e), t => t)))
      } else new ArithIn(new MQDecoder(b, q + 4, end - (q + 4)))
    val bm = new Array[Byte](rw * rh)
    var stripT = -coding.value(DT, "jbig2: OOB STRIPT").fold(e => return Left(e), v => v) * strips
    var firstS = 0
    var inst = 0
    while (inst < numInstances) {
      stripT += coding.value(DT, "jbig2: OOB DT").fold(e => return Left(e), v => v) * strips
      firstS += coding.value(FS, "jbig2: OOB FS").fold(e => return Left(e), v => v)
      var curS = firstS
      var stripDone = false
      var firstInStrip = true
      while (!stripDone && inst < numInstances) {
        // a valid stream still holds this instance's symbol ID
        if (coding.exhausted) return Left("jbig2: truncated text region")
        if (!firstInStrip) coding.int(DS) match {
          case Right(None) => stripDone = true
          case Right(Some(ids)) => curS += ids + dsOffset
          case Left(e) => return Left(e)
        }
        if (!stripDone) {
          val curT = if (strips == 1) 0 else coding match {
            case a: ArithIn => a.value(IT, "jbig2: OOB IT").fold(e => return Left(e), v => v)
            case h: HuffIn => h.r.bits(logStrips)
          }
          val id = coding match {
            case a: ArithIn => a.symbolId(codeLen)
            case h: HuffIn => h.int(ID) match {
              case Right(Some(v)) => v
              case _ => return Left("jbig2: bad symbol id code")
            }
          }
          if (id < 0 || id >= syms.length) return Left("jbig2: symbol id out of range")
          val sym = syms(id)
          // S is the left edge in every corner: it advances by WI - 1
          val t = stripT + curT
          val y0 = if (refCorner == 1 || refCorner == 3) t else t - sym.h + 1 // top : bottom
          var yy = 0
          while (yy < sym.h) {
            val ty = y0 + yy
            if (ty >= 0 && ty < rh) {
              var xx = 0
              while (xx < sym.w) {
                val tx = curS + xx
                if (tx >= 0 && tx < rw && sym.px(yy * sym.w + xx) != 0) bm(ty * rw + tx) = 1
                xx += 1
              }
            }
            yy += 1
          }
          curS += sym.w - 1
          inst += 1
          firstInStrip = false
        }
      }
    }
    Right(bm)
  }

  /** A generic region's data after its region info (T.88 7.4.6): MMR via
    * [[CcittG4]], or arithmetic with nominal AT pixels. */
  private def decodeGenericRegion(b: Array[Byte], p: Int, end: Int,
      w: Int, h: Int): Either[String, Array[Byte]] = {
    val flags = b(p) & 0xff
    val template = (flags >> 1) & 3
    if ((flags & 1) != 0) CcittG4.decode(java.util.Arrays.copyOfRange(b, p + 1, end), w, h) match {
      case Left(err) => Left(s"jbig2: mmr: $err")
      case px => px
    }
    else if (!nominalAt(b, p + 1, template)) Left("jbig2: non-nominal AT pixels unsupported")
    else {
      val r = p + 1 + 2 * NominalAt(template).length
      Right(decodeGenericArith(b, r, end - r, w, h, template, (flags & 8) != 0))
    }
  }

  // ------------------------------------------------------------ segments

  private[graft] val MaxPixels: Long = Streams.MaxDecodedBytes / 4
  // Count bounds: a symbol's side, a text region's instances, and one
  // height class's pixels. Glyph dictionaries hold character-scale
  // symbols; a hostile stream claiming a multi-megapixel class costs a
  // full (bounded but slow) decode PER MUTATION, so classes cap at 4M
  // pixels (the fuzz campaign surfaced this as ~150 ms/decode).
  private final val MaxSymbolSide = 1 << 14
  private final val MaxInstances = 1 << 24
  private final val MaxClassPixels = 1L << 22

  private def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  /** Decode an EMBEDDED JBIG2 stream (PDF /JBIG2Decode payload, with the
    * /JBIG2Globals stream, if any, simply prepended — globals carry no
    * page association that matters for the supported subset). Returns a
    * 1-component image: 0 = white, 255 = black (ink), matching the
    * usual 1-bit → gray convention used by the CCITT path. */
  def decode(data: Array[Byte], globals: Array[Byte] = Array.emptyByteArray): Either[String, Jpeg.Image] =
    try decodeImpl(if (globals.isEmpty) data else globals ++ data)
    catch {
      case e: MQExhausted => Left(e.getMessage)
      case e: Exception => Left(s"jbig2: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    var p = 0
    var pageW = -1
    var pageH = -1
    var page: Array[Byte] = null
    var sawRegion = false
    val dicts = scala.collection.mutable.Map.empty[Long, Vector[SymBitmap]]
    val tables = scala.collection.mutable.Map.empty[Long, HuffTable]
    while (p < b.length) {
      if (p + 11 > b.length) return Left("jbig2: truncated segment header")
      // segment number (4) + flags (1)
      val flags = b(p + 4) & 0xff
      val segType = flags & 0x3f
      val pageAssoc4 = (flags & 0x40) != 0
      var q = p + 5
      // referred-to segments
      val rts0 = b(q) & 0xff
      var refCount = rts0 >> 5
      if (refCount == 7) {
        refCount = (be32(b, q) & 0x1fffffff).toInt
        q += 4 + (refCount + 8) / 8 // retain bits
      } else q += 1
      // referred segment numbers: size by THIS segment's number
      val segNum = be32(b, p)
      val refSize = if (segNum <= 256) 1 else if (segNum <= 65536) 2 else 4
      if (refCount < 0 || refCount > 1000) return Left("jbig2: implausible ref count")
      val referred = new Array[Long](refCount)
      var rr = 0
      while (rr < refCount) {
        referred(rr) = refSize match {
          case 1 => (b(q) & 0xffL)
          case 2 => ((b(q) & 0xffL) << 8) | (b(q + 1) & 0xffL)
          case _ => be32(b, q)
        }
        q += refSize
        rr += 1
      }
      q += (if (pageAssoc4) 4 else 1)
      if (q + 4 > b.length) return Left("jbig2: truncated segment header")
      val dataLen = be32(b, q)
      q += 4
      if (dataLen == 0xffffffffL) return Left("jbig2: unknown segment length unsupported")
      if (dataLen > Int.MaxValue || q + dataLen > b.length)
        return Left("jbig2: truncated segment data")
      val dEnd = q + dataLen.toInt
      def referredSyms = referred.toVector.flatMap(r => dicts.getOrElse(r, Vector.empty))
      def referredTables = referred.toVector.flatMap(r => tables.get(r))

      segType match {
        case 48 => // page info
          if (dataLen < 19) return Left("jbig2: short page info")
          pageW = be32(b, q).toInt
          pageH = be32(b, q + 4).toInt // striped pages carry -1: canvas
          // is then grown from region extents when the first region lands
          if (pageW <= 0) return Left("jbig2: bad page width")
          if (pageH > 0 && pageW.toLong * pageH > MaxPixels)
            return Left("jbig2: image too large")
          if (pageH > 0) page = new Array[Byte](pageW * pageH)
        case 36 | 38 | 39 | 4 | 6 | 7 => // generic (incl. lossless) or text region
          val text = segType < 36
          if (dataLen < (if (text) 17 else 18)) return Left("jbig2: short region segment")
          val rw = be32(b, q).toInt
          val rh = be32(b, q + 4).toInt
          val rx = be32(b, q + 8) // X and Y are unsigned: they stay Long
          val ry = be32(b, q + 12) // through the extent checks below
          // OR and REPLACE both reduce to OR on a 0 page; AND/XOR/XNOR
          // over scanned pages are rare — fenced, for a text region before
          // its decode and for a generic region after its placement
          val combOk = (b(q + 16) & 7) match { case 0 | 1 | 4 => true; case _ => false }
          if (rw <= 0 || rh <= 0 || rw.toLong * rh > MaxPixels)
            return Left("jbig2: bad region size")
          if (text && !combOk) return Left("jbig2: unsupported combination operator")
          val bitmap = (
            if (text) decodeTextRegion(b, q + 17, dEnd, rw, rh, referredSyms, referredTables)
            else decodeGenericRegion(b, q + 17, dEnd, rw, rh)
          ).fold(e => return Left(e), px => px)
          sawRegion = true
          if (page == null) {
            // absent or striped (-1 height) page info: the canvas grows
            // from region extents (the height bound first keeps the
            // product in range)
            val pw = if (pageW <= 0) rx + rw else pageW.toLong
            val ph = math.max(pageH.toLong, ry + rh)
            if (ph > MaxPixels || pw * ph > MaxPixels || rx + rw > pw)
              return Left("jbig2: image too large")
            pageW = pw.toInt
            pageH = ph.toInt
            page = new Array[Byte](pageW * pageH)
          } else if (ry + rh > pageH || rx + rw > pageW) {
            return Left("jbig2: region outside page")
          }
          if (!combOk) return Left("jbig2: unsupported combination operator")
          val x0 = rx.toInt
          val y0 = ry.toInt
          var yy = 0
          while (yy < rh) {
            var xx = 0
            while (xx < rw) {
              if (bitmap(yy * rw + xx) != 0) page((y0 + yy) * pageW + (x0 + xx)) = 1
              xx += 1
            }
            yy += 1
          }
        case 0 => // symbol dictionary
          dicts(segNum) = decodeSymbolDict(b, q, dEnd, referredSyms, referredTables)
            .fold(e => return Left(e), ex => ex)
        case 53 => // custom huffman table
          tables(segNum) = parseCustomTable(b, q, dEnd).fold(e => return Left(e), t => t)
        case 16 | 20 | 22 | 23 => return Left("jbig2: halftone unsupported")
        case 40 | 42 | 43 => return Left("jbig2: refinement region unsupported")
        case _ => () // page end / stripe end / tables / extensions: skip
      }
      p = dEnd
    }
    if (!sawRegion || page == null) return Left("jbig2: no decodable region")
    // 1 = black ink → 255 (match the CCITT/gray convention: ink = dark)
    val out = new Array[Byte](page.length)
    var i = 0
    while (i < page.length) { out(i) = if (page(i) != 0) 255.toByte else 0; i += 1 }
    Right(Jpeg.Image(pageW, pageH, 1, out))
  }

  // ------------------------------------------------------------ encoder twin

  private def be(out: java.io.ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var k = n - 1
    while (k >= 0) { out.write(((v >> (8 * k)) & 0xff).toInt); k -= 1 }
  }

  private def bytes(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    f(out)
    out.toByteArray
  }

  /** Region info (T.88 7.4.1): `w` x `h` at (0, 0), OR. */
  private def regionInfo(out: java.io.ByteArrayOutputStream, w: Int, h: Int): Unit = {
    be(out, w, 4); be(out, h, 4); be(out, 0, 8); out.write(0)
  }

  /** An embedded stream of page 1: page info (#1), then `segments` as
    * (type, referred segment numbers, data) numbered from #2, then end
    * of page. */
  private def pageStream(w: Int, h: Int,
      segments: Seq[(Int, Seq[Int], Array[Byte])]): Array[Byte] = bytes { out =>
    val info = bytes { o => be(o, w, 4); be(o, h, 4); be(o, 0, 8); o.write(0); be(o, 0, 2) }
    val all = (48, Nil, info) +: segments :+ ((49, Nil, Array.emptyByteArray))
    all.zipWithIndex.foreach { case ((tpe, refs, data), i) =>
      be(out, i + 1, 4); out.write(tpe)
      out.write(refs.length << 5); refs.foreach(out.write(_)); out.write(1)
      be(out, data.length, 4); out.write(data, 0, data.length)
    }
  }

  /** Encode a bitmap (row-major, nonzero = black) as an embedded JBIG2
    * stream: page info + one immediate lossless generic region. */
  def encode(bitmap: Array[Byte], w: Int, h: Int,
      template: Int = 0, tpgdon: Boolean = false, mmr: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && bitmap.length == w * h, "bitmap size mismatch")
    require(template >= 0 && template <= 3, "bad template")
    val norm = bitmap.map(v => (if (v != 0) 1 else 0).toByte)
    pageStream(w, h, Seq((39, Nil, bytes { out =>
      regionInfo(out, w, h)
      out.write((if (mmr) 1 else 0) | (template << 1) | (if (tpgdon) 8 else 0))
      if (mmr) out.write(CcittG4.encode(norm, w, h))
      else {
        NominalAt(template).foreach { case (x, y) => out.write(x & 0xff); out.write(y & 0xff) }
        out.write(encodeGenericArith(norm, w, h, template, tpgdon))
      }
    })))
  }

  /** Encoder twin for the SYMBOL-CODED page (the dominant real-world
    * JBIG2 shape): page info + one arithmetic symbol dictionary + one
    * immediate text region referring to it + end-of-page. `symbols` are
    * distinct glyph bitmaps (w, h, row-major nonzero=black);
    * `placements` are (symbolIndex, x, y) with (x, y) the glyph's
    * top-left. Canonical stream: TOPLEFT ref corner, 1-row strips,
    * OR composition, nominal AT. */
  def encodeSymbolPage(w: Int, h: Int,
      symbols: Vector[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      template: Int = 0): Array[Byte] =
    encodeSymbols(w, h, symbols, placements, template,
      huffDict = false, huffText = false, uncompressed = false)

  /** Custom-table description used by the huffman twin: single normal
    * line covering [0, 2^rangeLen) at prefix 1, lower/upper lines, and
    * an optional OOB — enough shape for FS/DS/DT while staying fully
    * stream-defined (the decoder learns it from the type-53 segment,
    * never from transcription). */
  private def customTableBytes(rangeLen: Int, oob: Boolean): Array[Byte] = bytes { out =>
    out.write((if (oob) 1 else 0) | ((4 - 1) << 1) | ((6 - 1) << 4)) // HTPS=4, HTRS=6
    be(out, 0, 4) // HTLOW
    be(out, 1 << rangeLen, 4) // HTHIGH
    val w = new HuffWriter
    w.putBits(1, 4); w.putBits(rangeLen, 6) // the one normal line
    w.putBits(2, 4) // lower-range prefix
    w.putBits(if (oob) 3 else 2, 4) // upper-range prefix
    if (oob) w.putBits(3, 4) // OOB prefix
    out.write(w.result())
  }

  /** Encoder twin for the HUFFMAN legs: SDHUFF symbol dictionary with
    * standard tables B.4/B.2/B.1, or B.3 for DW when a height class's
    * widths decrease (collective bitmaps MMR-coded via the
    * JDK-pinned [[CcittG4]], or uncompressed when `uncompressed`), and
    * either an arithmetic or an SBHUFF text region (the latter with
    * custom FS/DS/DT tables shipped as type-53 segments, a runcode-
    * coded symbol-ID table, and CURT raw bits — strips = 1 here). */
  def encodeSymbolPageHuff(w: Int, h: Int,
      symbols: Vector[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      huffText: Boolean = false,
      uncompressed: Boolean = false): Array[Byte] =
    encodeSymbols(w, h, symbols, placements, template = 0,
      huffDict = true, huffText = huffText, uncompressed = uncompressed)

  /** Both symbol-page twins, written around the encoder's side of the
    * [[Coding]] seam: the dictionary is segment #2, a huffman text
    * region's custom FS/DS/DT tables follow it, and the text region
    * refers to them all. */
  private def encodeSymbols(w: Int, h: Int,
      symbols: Vector[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      template: Int, huffDict: Boolean, huffText: Boolean, uncompressed: Boolean): Array[Byte] = {
    require(w > 0 && h > 0 && symbols.nonEmpty)
    symbols.foreach { case (sw, sh, px) =>
      require(sw > 0 && sh > 0 && px.length == sw * sh, "bad symbol bitmap")
    }
    placements.foreach { case (id, _, _) => require(id >= 0 && id < symbols.length) }
    // dictionary decode order is height-class order: sort, remap ids
    val order = symbols.zipWithIndex.sortBy { case ((_, sh, _), i) => (sh, i) }
    val idMap = order.zipWithIndex.map { case ((_, orig), newId) => orig -> newId }.toMap
    val sorted = order.map { case ((sw, sh, px), _) =>
      (sw, sh, px.map(v => (if (v != 0) 1 else 0).toByte))
    }

    // DW B.2 has no negative range: a height class whose widths ever
    // decrease takes B.3 (SDHUFFDW = 1)
    val dwB3 = sorted.indices.exists(i => i > 0 && sorted(i)._2 == sorted(i - 1)._2 &&
      sorted(i)._1 < sorted(i - 1)._1)
    val dict = bytes { out =>
      // flags: SDHUFF with DH B.4, DW B.2 or B.3, BMSIZE B.1; or the
      // arithmetic template and its nominal AT pixels. No
      // refinement/aggregation.
      be(out, if (!huffDict) template << 10 else if (dwB3) 1 | (1 << 4) else 1, 2)
      if (!huffDict) NominalAt(template).foreach { case (x, y) => out.write(x & 0xff); out.write(y & 0xff) }
      be(out, sorted.length, 4) // SDNUMEXSYMS
      be(out, sorted.length, 4) // SDNUMNEWSYMS
      val c =
        if (huffDict) new HuffOut(Map(DH -> TableB4, DW -> (if (dwB3) TableB3 else TableB2),
          EX -> TableB1, BM -> TableB1))
        else new ArithOut
      val ctxSize = if (huffDict) 0 else genericCtxSize(template)
      val gix = new Array[Int](ctxSize)
      val gmps = new Array[Byte](ctxSize)
      var height = 0
      var i = 0
      while (i < sorted.length) {
        val classH = sorted(i)._2
        c.int(DH, Some(classH - height))
        height = classH
        val first = i
        var width = 0
        while (i < sorted.length && sorted(i)._2 == classH) {
          val (sw, _, px) = sorted(i)
          c.int(DW, Some(sw - width))
          width = sw
          c match {
            case a: ArithOut => encodeGenericWith(a.enc, gix, gmps, px, sw, classH, template, tpgdon = false)
            case _: HuffOut =>
          }
          i += 1
        }
        c.int(DW, None) // end of height class
        c match {
          case hc: HuffOut => writeCollective(hc, sorted.slice(first, i), classH, uncompressed)
          case _: ArithOut =>
        }
      }
      c.int(EX, Some(0)) // run of 0 non-exported
      c.int(EX, Some(sorted.length)) // export all
      out.write(c.bytes())
    }

    val fsLen = 32 - Integer.numberOfLeadingZeros(math.max(1, w))
    val dtLen = 32 - Integer.numberOfLeadingZeros(math.max(1, h))
    val tableSegs =
      if (huffText) Seq((fsLen, false), (fsLen, true), (dtLen, false)) // FS, DS, DT
        .map { case (len, oob) => customTableBytes(len, oob) }
      else Nil
    val text = bytes { out =>
      regionInfo(out, w, h)
      be(out, (1 << 4) | (if (huffText) 1 else 0), 2) // TOPLEFT, strips=1, SBHUFF
      if (huffText) be(out, 3 | (3 << 2) | (3 << 4), 2) // FS/DS/DT all custom
      be(out, placements.length, 4)
      val codeLen = symCodeLen(sorted.length)
      val c = if (!huffText) new ArithOut else {
        val Seq(fs, ds, dt) = tableSegs.map(t =>
          parseCustomTable(t, 0, t.length).fold(e => throw new IllegalStateException(e), identity))
        val hc = new HuffOut(Map(FS -> fs, DS -> ds, DT -> dt))
        // symbol-ID table: runcode lengths where only length codeLen is
        // used, with the 1-bit runcode "0"; then that runcode per symbol
        (0 until 35).foreach(i => hc.w.putBits(if (i == codeLen) 1 else 0, 5))
        sorted.indices.foreach(_ => hc.w.putBit(0))
        hc.w.align()
        hc
      }
      c.int(DT, Some(0)) // STRIPT init
      val byStrip = placements.map { case (id, x, y) => (idMap(id), x, y) }
        .groupBy(_._3).toSeq.sortBy(_._1)
      var stripT = 0
      var firstS = 0
      byStrip.foreach { case (y, ps) =>
        c.int(DT, Some(y - stripT))
        stripT = y
        var curS = 0
        var first = true
        ps.sortBy(_._2).foreach { case (id, x, _) =>
          if (first) { c.int(FS, Some(x - firstS)); firstS = x; first = false }
          else c.int(DS, Some(x - curS))
          curS = x
          c match {
            case a: ArithOut => a.symbolId(codeLen, id)
            case hc: HuffOut => hc.w.putBits(id, codeLen) // fixed-length canonical code
          }
          curS += sorted(id)._1 - 1
        }
        c.int(DS, None) // end of strip
      }
      out.write(c.bytes())
    }

    pageStream(w, h, (0, Nil, dict) +: tableSegs.map(t => (53, Nil, t)) :+
      ((6, 2 +: tableSegs.indices.map(_ + 3), text)))
  }

  /** Twin of [[collectiveSymbols]]: BMSIZE and one height class's
    * collective bitmap, MMR-coded or uncompressed. */
  private def writeCollective(c: HuffOut, syms: Seq[(Int, Int, Array[Byte])],
      height: Int, uncompressed: Boolean): Unit = {
    val tw = syms.map(_._1).sum
    val coll = new Array[Byte](tw * height)
    var x0 = 0
    syms.foreach { case (sw, _, px) =>
      var y = 0
      while (y < height) {
        System.arraycopy(px, y * sw, coll, y * tw + x0, sw)
        y += 1
      }
      x0 += sw
    }
    if (uncompressed) {
      val rowBytes = (tw + 7) / 8
      val raw = new Array[Byte](rowBytes * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < tw) {
          if (coll(y * tw + x) != 0)
            raw(y * rowBytes + (x >> 3)) = (raw(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
          x += 1
        }
        y += 1
      }
      c.int(BM, Some(0))
      c.w.writeBytes(raw)
    } else {
      val mmr = CcittG4.encode(coll, tw, height)
      c.int(BM, Some(mmr.length))
      c.w.writeBytes(mmr)
    }
  }
}
