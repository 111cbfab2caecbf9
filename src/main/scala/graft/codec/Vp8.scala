package graft.codec

/** From-scratch VP8 intra-frame (key-frame) decoder per RFC 6386 — the
  * lossy leg of WebP, which is the majority of real-crawl WebP bytes
  * (the round-4 verdict's top un-fenced population). Only key frames
  * exist inside a still `VP8 ` chunk, so inter prediction / motion
  * vectors / golden+altref machinery are out of scope by construction,
  * not fenced: a WebP still IS one key frame (RFC 9649 §2).
  *
  * Implements: the boolean entropy decoder (§7), key-frame headers
  * (§9), segmentation (§9.3, both absolute and delta quantizer /
  * loop-filter features), loop-filter header + per-MB level adjustment
  * (§9.4, §15.1), 1–8 token partitions (§9.5), dequantization with the
  * Y2 doubling / 155/100 scaling / chroma-DC 132 cap (§9.6),
  * coefficient-probability updates (§13.4), per-MB intra modes on the
  * key-frame trees with above/left B-mode contexts (§11), DCT token
  * decoding with band/context probabilities and category extra bits
  * (§13.2–13.3), the exact integer inverse DCT and inverse WHT
  * (§14.3–14.4), all 4x4 / 16x16 / chroma intra predictors with the
  * notional 127/129 borders (§12), and BOTH loop filters (simple and
  * normal, §15.2–15.4) applied in the normative MB raster order.
  *
  * The normative constant tables live in [[Vp8Tables]], extracted from
  * the system libwebp by scripts/gen_vp8_tables.py; the whole decoder
  * is pinned BIT-EXACTLY against libwebp's `WebPDecodeYUV` on encoder
  * outputs across quality / segments / partitions / filter settings
  * (Vp8Spec + frozen fixtures) — VP8 decoding is fully-specified
  * integer math, so exact equality is the conformance bar, and a
  * single wrong table byte desynchronizes the boolean decoder.
  *
  * Output is the decoded 4:2:0 YUV (the representation libwebp pins);
  * [[WebpVp8l]] converts to RGB for the Image consumers with the
  * documented integer BT.601 limited-range conversion.
  */
object Vp8 {

  /** Decoded 4:2:0 frame: y is w*h, u/v are ((w+1)/2)*((h+1)/2). */
  final case class Yuv(width: Int, height: Int,
      y: Array[Byte], u: Array[Byte], v: Array[Byte])

  def decode(b: Array[Byte], off: Int, len: Int): Either[String, Yuv] =
    try decodeImpl(b, off, len)
    catch { case e: Exception => Left(s"vp8: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  // ---------------------------------------------------------------- bool
  /** §7.2 boolean decoder; reads past-the-end as zero bytes (the spec's
    * decoders behave identically because well-formed streams never
    * consume value bits beyond the partition). */
  private final class Bool(b: Array[Byte], var pos: Int, val end: Int) {
    var range: Int = 255
    var overrun: Boolean = false // ran past the partition (libwebp's eof_)
    var value: Int = {
      val v0 = if (pos < end) b(pos) & 0xff else 0
      val v1 = if (pos + 1 < end) b(pos + 1) & 0xff else 0
      pos += 2
      (v0 << 8) | v1
    }
    var bitCount: Int = 0

    def get(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          if (pos < end) value |= b(pos) & 0xff
          else overrun = true
          pos += 1
        }
      }
      ret
    }
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | get(128); i += 1 }
      v
    }
    def signed(n: Int): Int = {
      val v = literal(n)
      if (get(128) == 1) -v else v
    }
    /** flag-gated signed literal: the header's "L(n) + sign if present". */
    def maybeSigned(n: Int): Int = if (get(128) == 1) signed(n) else 0
  }

  // ---------------------------------------------------------------- modes
  private val DC_PRED = 0; private val V_PRED = 1; private val H_PRED = 2
  private val TM_PRED = 3; private val B_PRED = 4
  // 16x16 mode -> context b-mode of its subblocks (§11.3)
  private val YModeToBMode = Array(0, 2, 3, 1) // DC->B_DC, V->B_VE, H->B_HE, TM->B_TM

  private final class MbInfo {
    var segment = 0
    var skip = false
    var yMode = 0
    var uvMode = 0
    val bModes = new Array[Int](16)
    var hasCoeffs = false // set during residual decode; drives inner-edge filtering
  }

  private def clip127(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v

  private def decodeImpl(b: Array[Byte], off: Int, len: Int): Either[String, Yuv] = {
    if (len < 10) return Left("vp8: too short")
    val tag = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16)
    if ((tag & 1) != 0) return Left("vp8: not a key frame")
    val part0Len = tag >> 5
    if ((b(off + 3) & 0xff) != 0x9d || (b(off + 4) & 0xff) != 0x01 || (b(off + 5) & 0xff) != 0x2a)
      return Left("vp8: bad start code")
    val width = ((b(off + 6) & 0xff) | ((b(off + 7) & 0xff) << 8)) & 0x3fff
    val height = ((b(off + 8) & 0xff) | ((b(off + 9) & 0xff) << 8)) & 0x3fff
    if (width == 0 || height == 0) return Left("vp8: zero dimensions")
    if (width.toLong * height > Streams.MaxDecodedBytes / 4) return Left("vp8: image too large")
    val dataStart = off + 10
    if (part0Len <= 0 || dataStart + part0Len > off + len) return Left("vp8: partition 0 overruns")
    val bd = new Bool(b, dataStart, dataStart + part0Len)

    // ---- frame header (§9.2-9.11) ----
    bd.literal(1) // color space
    bd.literal(1) // clamping type (pixel clamp is always applied here)

    // segmentation
    var segEnabled = false; var segUpdateMap = false; var segAbsDelta = false
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    if (bd.literal(1) == 1) {
      segEnabled = true
      segUpdateMap = bd.literal(1) == 1
      val updateData = bd.literal(1) == 1
      if (updateData) {
        segAbsDelta = bd.literal(1) == 1
        var i = 0
        while (i < 4) { segQuant(i) = bd.maybeSigned(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = bd.maybeSigned(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          segTreeProbs(i) = if (bd.get(128) == 1) bd.literal(8) else 255
          i += 1
        }
      }
    }

    // loop filter header
    val simpleFilter = bd.literal(1) == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    if (bd.literal(1) == 1) {
      lfDeltaEnabled = true
      if (bd.literal(1) == 1) { // mode_ref_lf_delta_update
        var i = 0
        while (i < 4) { if (bd.get(128) == 1) refLfDelta(i) = bd.signed(6); i += 1 }
        i = 0
        while (i < 4) { if (bd.get(128) == 1) modeLfDelta(i) = bd.signed(6); i += 1 }
      }
    }

    // token partitions
    val nParts = 1 << bd.literal(2)
    val partSizesAt = dataStart + part0Len
    if (partSizesAt + 3 * (nParts - 1) > off + len) return Left("vp8: partition sizes overrun")
    val partStart = new Array[Int](nParts)
    val partEnd = new Array[Int](nParts)
    var ps = partSizesAt + 3 * (nParts - 1)
    var pi = 0
    while (pi < nParts) {
      val sz =
        if (pi == nParts - 1) (off + len) - ps
        else (b(partSizesAt + 3 * pi) & 0xff) | ((b(partSizesAt + 3 * pi + 1) & 0xff) << 8) |
          ((b(partSizesAt + 3 * pi + 2) & 0xff) << 16)
      if (sz < 0 || ps + sz > off + len) return Left("vp8: token partition overruns")
      partStart(pi) = ps; partEnd(pi) = ps + sz
      ps += sz
      pi += 1
    }
    val tokenBd = Array.tabulate(nParts)(i => new Bool(b, partStart(i), partEnd(i)))

    // quantizer indices
    val yAcQi = bd.literal(7)
    val yDcDelta = bd.maybeSigned(4)
    val y2DcDelta = bd.maybeSigned(4)
    val y2AcDelta = bd.maybeSigned(4)
    val uvDcDelta = bd.maybeSigned(4)
    val uvAcDelta = bd.maybeSigned(4)

    bd.literal(1) // refresh_entropy_probs (state is per-frame here)

    // coefficient probability updates (§13.4)
    val coeffProbs = Array.ofDim[Int](4, 8, 3, 11)
    var i4 = 0
    while (i4 < 4) {
      var j = 0
      while (j < 8) {
        var k = 0
        while (k < 3) {
          var l = 0
          while (l < 11) {
            val flat = ((i4 * 8 + j) * 3 + k) * 11 + l
            coeffProbs(i4)(j)(k)(l) =
              if (bd.get(Vp8Tables.CoeffUpdateProbs(flat)) == 1) bd.literal(8)
              else Vp8Tables.CoeffProbs(flat)
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i4 += 1
    }

    val noCoeffSkip = bd.literal(1) == 1
    val probSkipFalse = if (noCoeffSkip) bd.literal(8) else 0

    // ---- per-segment dequant factors (§9.6) ----
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    val q = new Array[Array[Int]](4) // seg -> {y1dc, y1ac, y2dc, y2ac, uvdc, uvac}
    var s = 0
    while (s < 4) {
      val base =
        if (!segEnabled) yAcQi
        else if (segAbsDelta) segQuant(s)
        else yAcQi + segQuant(s)
      val qi = clip127(base)
      val y1dc = Vp8Tables.DcQ(clip127(qi + yDcDelta))
      val y1ac = Vp8Tables.AcQ(qi)
      val y2dc = Vp8Tables.DcQ(clip127(qi + y2DcDelta)) * 2
      var y2ac = Vp8Tables.AcQ(clip127(qi + y2AcDelta)) * 155 / 100
      if (y2ac < 8) y2ac = 8
      var uvdc = Vp8Tables.DcQ(clip127(qi + uvDcDelta))
      if (uvdc > 132) uvdc = 132
      val uvac = Vp8Tables.AcQ(clip127(qi + uvAcDelta))
      q(s) = Array(y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
      s += 1
    }

    // ---- per-MB mode records (partition 0, raster order, §11) ----
    val mbs = Array.fill(mbW * mbH)(new MbInfo)
    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        if (segEnabled && segUpdateMap) {
          mb.segment =
            if (bd.get(segTreeProbs(0)) == 0) bd.get(segTreeProbs(1))
            else 2 + bd.get(segTreeProbs(2))
        }
        if (noCoeffSkip) mb.skip = bd.get(probSkipFalse) == 1
        // key-frame y mode tree {-B_PRED, 2, 4, 6, -DC, -V, -H, -TM}:
        // BALANCED below the root — DC/V share a node, H/TM another
        mb.yMode =
          if (bd.get(Vp8Tables.KfYModeProbs(0)) == 0) B_PRED
          else if (bd.get(Vp8Tables.KfYModeProbs(1)) == 0) {
            if (bd.get(Vp8Tables.KfYModeProbs(2)) == 0) DC_PRED else V_PRED
          } else {
            if (bd.get(Vp8Tables.KfYModeProbs(3)) == 0) H_PRED else TM_PRED
          }
        if (mb.yMode == B_PRED) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above =
              if (sy > 0) mb.bModes(sb - 4)
              else if (mbY > 0) {
                val amb = mbs((mbY - 1) * mbW + mbX)
                if (amb.yMode == B_PRED) amb.bModes(12 + sx) else YModeToBMode(amb.yMode)
              } else 0 // notional B_DC
            val left =
              if (sx > 0) mb.bModes(sb - 1)
              else if (mbX > 0) {
                val lmb = mbs(mbY * mbW + mbX - 1)
                if (lmb.yMode == B_PRED) lmb.bModes(sy * 4 + 3) else YModeToBMode(lmb.yMode)
              } else 0
            val p = (above * 10 + left) * 9 // into KfBModeProbs
            def bp(i: Int) = Vp8Tables.KfBModeProbs(p + i)
            // §11.4 bmode tree. Mode NUMBERING follows the extracted
            // table's own (libwebp) order — B_DC,TM,VE,HE,RD,VR,LD,VL,
            // HD,HU — because these values index KfBModeProbs as
            // neighbor context; the RFC's enum swaps LD/RD/VR and using
            // it here reads the wrong context row (a bug that decodes
            // most values right while silently drifting the bool state).
            mb.bModes(sb) =
              if (bd.get(bp(0)) == 0) 0 // B_DC
              else if (bd.get(bp(1)) == 0) 1 // B_TM
              else if (bd.get(bp(2)) == 0) 2 // B_VE
              else if (bd.get(bp(3)) == 0) {
                if (bd.get(bp(4)) == 0) 3 // B_HE
                else if (bd.get(bp(5)) == 0) 4 // B_RD
                else 5 // B_VR
              } else {
                if (bd.get(bp(6)) == 0) 6 // B_LD
                else if (bd.get(bp(7)) == 0) 7 // B_VL
                else if (bd.get(bp(8)) == 0) 8 // B_HD
                else 9 // B_HU
              }
            sb += 1
          }
        } else {
          // subblock modes implied by the 16x16 mode (for neighbor ctx)
          val bm = YModeToBMode(mb.yMode)
          var sb = 0
          while (sb < 16) { mb.bModes(sb) = bm; sb += 1 }
        }
        // uv mode tree {142,114,183}
        mb.uvMode =
          if (bd.get(Vp8Tables.KfUvModeProbs(0)) == 0) DC_PRED
          else if (bd.get(Vp8Tables.KfUvModeProbs(1)) == 0) V_PRED
          else if (bd.get(Vp8Tables.KfUvModeProbs(2)) == 0) H_PRED
          else TM_PRED
        mbX += 1
      }
      // a corrupted header can claim near-cap dimensions; once the
      // partition is exhausted every further "bit" is invented from
      // zero fill — abort per row instead of burning CPU across the
      // whole claimed MB grid (surfaced by the round-5 fuzz campaign
      // as a seconds-per-mutation slowdown, not a crash)
      if (bd.overrun) return Left("vp8: truncated stream")
      mbY += 1
    }

    // ---- residuals + reconstruction ----
    // planes padded to the MB grid; cropped on return
    val yStride = mbW * 16; val cStride = mbW * 8
    val yPlane = new Array[Byte](yStride * mbH * 16)
    val uPlane = new Array[Byte](cStride * mbH * 8)
    val vPlane = new Array[Byte](cStride * mbH * 8)

    // nonzero contexts (§13.3): above per MB column, left per current MB
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val aboveNzY2 = new Array[Int](mbW)
    val leftNzY = new Array[Int](4)
    val leftNzU = new Array[Int](2)
    val leftNzV = new Array[Int](2)
    var leftNzY2 = 0

    val coefBuf = new Array[Int](25 * 16) // 16 Y + 2x4 chroma + Y2, 16 coefs each
    val y2tmp = new Array[Int](16)
    val tmpBlk = new Array[Int](16)

    // token decode for one 4x4 block. Returns end-of-block index.
    def decodeBlockCoeffs(t: Bool, blockType: Int, first: Int, ctx0: Int,
        dqDC: Int, dqAC: Int, out: Array[Int], outOff: Int): Int = {
      val probsT = coeffProbs(blockType)
      var n = first
      var ctx = ctx0
      var skipEob = false
      while (n < 16) {
        val p = probsT(Vp8Tables.Bands(n))(ctx)
        if (!skipEob && t.get(p(0)) == 0) return n
        if (t.get(p(1)) == 0) { ctx = 0; skipEob = true; n += 1 }
        else {
          skipEob = false
          var v = 0
          if (t.get(p(2)) == 0) { v = 1; ctx = 1 }
          else {
            ctx = 2
            if (t.get(p(3)) == 0) {
              if (t.get(p(4)) == 0) v = 2
              else v = 3 + t.get(p(5))
            } else if (t.get(p(6)) == 0) {
              if (t.get(p(7)) == 0) { // cat1: 5..6
                v = 5 + extraBits(t, Vp8Tables.Cat1)
              } else v = 7 + extraBits(t, Vp8Tables.Cat2)
            } else if (t.get(p(8)) == 0) {
              if (t.get(p(9)) == 0) v = 11 + extraBits(t, Vp8Tables.Cat3)
              else v = 19 + extraBits(t, Vp8Tables.Cat4)
            } else {
              if (t.get(p(10)) == 0) v = 35 + extraBits(t, Vp8Tables.Cat5)
              else v = 67 + extraBits(t, Vp8Tables.Cat6)
            }
          }
          if (t.get(128) == 1) v = -v
          out(outOff + Vp8Tables.Zigzag(n)) = v * (if (n == 0) dqDC else dqAC)
          n += 1
        }
      }
      16
    }

    mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNzY, 0)
      java.util.Arrays.fill(leftNzU, 0)
      java.util.Arrays.fill(leftNzV, 0)
      leftNzY2 = 0
      val t = tokenBd(mbY % nParts)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        val dq = q(mb.segment)
        val hasY2 = mb.yMode != B_PRED
        java.util.Arrays.fill(coefBuf, 0)
        var mbNz = false

        if (mb.skip) {
          // §13.1: skipped MBs clear luma+chroma contexts; the Y2
          // context is cleared only when the MB HAS a Y2 block (B_PRED
          // MBs must leave it untouched for later MBs in the row)
          java.util.Arrays.fill(leftNzY, 0)
          java.util.Arrays.fill(leftNzU, 0)
          java.util.Arrays.fill(leftNzV, 0)
          var k = 0
          while (k < 4) { aboveNzY(mbX * 4 + k) = 0; k += 1 }
          k = 0
          while (k < 2) {
            aboveNzU(mbX * 2 + k) = 0; aboveNzV(mbX * 2 + k) = 0
            k += 1
          }
          if (hasY2) { leftNzY2 = 0; aboveNzY2(mbX) = 0 }
        } else {
          var firstY = 0
          if (hasY2) {
            val ctx = leftNzY2 + aboveNzY2(mbX)
            val end = decodeBlockCoeffs(t, 1, 0, ctx, dq(2), dq(3), y2tmp, 0)
            // y2tmp written via zigzag into a scratch — reuse per MB
            val nz = if (end > 0) 1 else 0
            leftNzY2 = nz; aboveNzY2(mbX) = nz
            if (nz == 1) mbNz = true
            firstY = 1
          }
          val lumaType = if (hasY2) 0 else 3
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val ctx = leftNzY(sy) + aboveNzY(mbX * 4 + sx)
            val end = decodeBlockCoeffs(t, lumaType, firstY, ctx, dq(0), dq(1),
              coefBuf, sb * 16)
            val nz = if (end > firstY) 1 else 0
            leftNzY(sy) = nz; aboveNzY(mbX * 4 + sx) = nz
            if (nz == 1) mbNz = true
            sb += 1
          }
          var c = 0
          while (c < 2) {
            val nzL = if (c == 0) leftNzU else leftNzV
            val nzA = if (c == 0) aboveNzU else aboveNzV
            var sbc = 0
            while (sbc < 4) {
              val sx = sbc & 1; val sy = sbc >> 1
              val ctx = nzL(sy) + nzA(mbX * 2 + sx)
              val end = decodeBlockCoeffs(t, 2, 0, ctx, dq(4), dq(5),
                coefBuf, (16 + c * 4 + sbc) * 16)
              val nz = if (end > 0) 1 else 0
              nzL(sy) = nz; nzA(mbX * 2 + sx) = nz
              if (nz == 1) mbNz = true
              sbc += 1
            }
            c += 1
          }
          if (hasY2) {
            // inverse WHT scatters Y2 into the 16 luma DCs (§14.4)
            inverseWht(y2tmp, tmpBlk)
            var k = 0
            while (k < 16) {
              coefBuf(k * 16) = tmpBlk(k)
              y2tmp(k) = 0
              k += 1
            }
          }
        }
        mb.hasCoeffs = mbNz

        reconstructMb(mb, mbX, mbY, mbW, mbH, coefBuf,
          yPlane, yStride, uPlane, vPlane, cStride)
        mbX += 1
      }
      if (t.overrun) return Left("vp8: truncated stream") // same early abort
      mbY += 1
    }

    // ---- loop filter (§15) ----
    if (filterLevel > 0) {
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val mb = mbs(mbY * mbW + mbX)
          var level = if (segEnabled) {
            if (segAbsDelta) segLf(mb.segment) else filterLevel + segLf(mb.segment)
          } else filterLevel
          if (lfDeltaEnabled) {
            level += refLfDelta(0) // key frame: always INTRA_FRAME
            if (mb.yMode == B_PRED) level += modeLfDelta(0)
          }
          if (level < 0) level = 0
          if (level > 63) level = 63
          if (level > 0) {
            var interior = level
            if (sharpness > 0) {
              interior >>= (if (sharpness > 4) 2 else 1)
              if (interior > 9 - sharpness) interior = 9 - sharpness
            }
            if (interior < 1) interior = 1
            val hevThresh = if (level >= 40) 2 else if (level >= 15) 1 else 0
            val mbEdge = (level + 2) * 2 + interior
            val inEdge = level * 2 + interior
            val filterInner = mb.hasCoeffs || mb.yMode == B_PRED
            if (simpleFilter) {
              LoopFilter.simpleMb(yPlane, yStride, mbX, mbY, mbEdge, inEdge, filterInner)
            } else {
              LoopFilter.normalMb(yPlane, yStride, uPlane, vPlane, cStride,
                mbX, mbY, mbEdge, inEdge, interior, hevThresh, filterInner)
            }
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    // a decoder that had to invent bytes past a partition end decoded a
    // TRUNCATED stream — typed error, not silently-wrong pixels
    if (bd.overrun || tokenBd.exists(_.overrun)) return Left("vp8: truncated stream")

    // crop to the real dimensions
    val cw = (width + 1) / 2; val ch = (height + 1) / 2
    val yOut = new Array[Byte](width * height)
    var r = 0
    while (r < height) {
      System.arraycopy(yPlane, r * yStride, yOut, r * width, width)
      r += 1
    }
    val uOut = new Array[Byte](cw * ch)
    val vOut = new Array[Byte](cw * ch)
    r = 0
    while (r < ch) {
      System.arraycopy(uPlane, r * cStride, uOut, r * cw, cw)
      System.arraycopy(vPlane, r * cStride, vOut, r * cw, cw)
      r += 1
    }
    Right(Yuv(width, height, yOut, uOut, vOut))
  }

  private def extraBits(t: Bool, probs: Array[Int]): Int = {
    var v = 0; var i = 0
    while (i < probs.length) { v = (v << 1) | t.get(probs(i)); i += 1 }
    v
  }

  // ---------------------------------------------------------------- idct
  /** §14.3 exact integer inverse DCT, adding into the predictor. */
  private def idctAdd(coef: Array[Int], cOff: Int,
      dst: Array[Byte], dOff: Int, stride: Int): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = coef(cOff + i) + coef(cOff + i + 8)
      val b1 = coef(cOff + i) - coef(cOff + i + 8)
      val t1 = (coef(cOff + i + 4) * 35468) >> 16
      val t2 = coef(cOff + i + 12) + ((coef(cOff + i + 12) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = coef(cOff + i + 4) + ((coef(cOff + i + 4) * 20091) >> 16)
      val t4 = (coef(cOff + i + 12) * 35468) >> 16
      val d1 = t3 + t4
      tmp(i) = a1 + d1; tmp(i + 12) = a1 - d1
      tmp(i + 4) = b1 + c1; tmp(i + 8) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 2)
      val b1 = tmp(o) - tmp(o + 2)
      val t1 = (tmp(o + 1) * 35468) >> 16
      val t2 = tmp(o + 3) + ((tmp(o + 3) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = tmp(o + 1) + ((tmp(o + 1) * 20091) >> 16)
      val t4 = (tmp(o + 3) * 35468) >> 16
      val d1 = t3 + t4
      val p = dOff + i * stride
      def add(x: Int, v: Int): Unit = {
        val s = (dst(p + x) & 0xff) + ((v + 4) >> 3)
        dst(p + x) = (if (s < 0) 0 else if (s > 255) 255 else s).toByte
      }
      add(0, a1 + d1); add(3, a1 - d1); add(1, b1 + c1); add(2, b1 - c1)
      i += 1
    }
  }

  /** §14.4 inverse Walsh-Hadamard for the Y2 block. */
  private def inverseWht(ip: Array[Int], op: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = ip(i) + ip(i + 12)
      val b1 = ip(i + 4) + ip(i + 8)
      val c1 = ip(i + 4) - ip(i + 8)
      val d1 = ip(i) - ip(i + 12)
      tmp(i) = a1 + b1; tmp(i + 4) = c1 + d1
      tmp(i + 8) = a1 - b1; tmp(i + 12) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 3)
      val b1 = tmp(o + 1) + tmp(o + 2)
      val c1 = tmp(o + 1) - tmp(o + 2)
      val d1 = tmp(o) - tmp(o + 3)
      val a2 = a1 + b1; val b2 = c1 + d1; val c2 = a1 - b1; val d2 = d1 - c1
      op(o) = (a2 + 3) >> 3; op(o + 1) = (b2 + 3) >> 3
      op(o + 2) = (c2 + 3) >> 3; op(o + 3) = (d2 + 3) >> 3
      i += 1
    }
  }

  // ---------------------------------------------------------- prediction
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Whole-MB reconstruction: intra predict + residual add, writing the
    * padded planes in place. Border conventions per §12.2: above row is
    * notionally 127 (extending right and into the above-left corner),
    * left column 129. */
  private def reconstructMb(mb: MbInfo, mbX: Int, mbY: Int, mbW: Int, mbH: Int,
      coef: Array[Int], yP: Array[Byte], yS: Int,
      uP: Array[Byte], vP: Array[Byte], cS: Int): Unit = {

    // ---------- luma ----------
    val yOff = (mbY * 16) * yS + mbX * 16
    if (mb.yMode == B_PRED) {
      // 4x4 prediction with the 4-pixel above-right rule (§12.3): the
      // above-right of right-column subblocks is the above MB-row copy
      // (or 127s), frozen for the whole MB.
      val topRight = new Array[Int](4)
      var k = 0
      while (k < 4) {
        topRight(k) =
          if (mbY == 0) 127
          else if (mbX + 1 < mbW) yP((mbY * 16 - 1) * yS + (mbX + 1) * 16 + k) & 0xff
          else yP((mbY * 16 - 1) * yS + mbX * 16 + 15) & 0xff // replicate last above px
        k += 1
      }
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        val o = yOff + sy * 4 * yS + sx * 4
        // gather 13 border pixels: above-left, above[0..3], above-right[0..3], left[0..3]
        val a = new Array[Int](8)
        var al = 0
        val l = new Array[Int](4)
        if (sy > 0 || mbY > 0) {
          var x = 0
          while (x < 4) { a(x) = yP(o - yS + x) & 0xff; x += 1 }
        } else {
          var x = 0
          while (x < 4) { a(x) = 127; x += 1 }
        }
        // above-right
        if (sy == 0 && mbY == 0) {
          var x = 0
          while (x < 4) { a(4 + x) = 127; x += 1 }
        } else if (sx == 3) {
          var x = 0
          while (x < 4) { a(4 + x) = topRight(x); x += 1 }
        } else if (sy == 0) {
          var x = 0
          while (x < 4) { a(4 + x) = yP(o - yS + 4 + x) & 0xff; x += 1 }
        } else {
          // interior rows: the block above-right is already reconstructed
          var x = 0
          while (x < 4) { a(4 + x) = yP(o - yS + 4 + x) & 0xff; x += 1 }
        }
        if (sx > 0 || mbX > 0) {
          var yy = 0
          while (yy < 4) { l(yy) = yP(o + yy * yS - 1) & 0xff; yy += 1 }
        } else {
          var yy = 0
          while (yy < 4) { l(yy) = 129; yy += 1 }
        }
        al =
          if ((sx > 0 || mbX > 0) && (sy > 0 || mbY > 0)) yP(o - yS - 1) & 0xff
          else if (sy > 0 || mbY > 0) 129 // left edge of frame, above exists
          else 127 // top row (includes the notional above-left)

        predict4(yP, o, yS, mb.bModes(sb), a, al, l)
        idctAdd(coef, sb * 16, yP, o, yS)
        sb += 1
      }
    } else {
      predict16(yP, yOff, yS, mb.yMode, mbX, mbY)
      var sb = 0
      while (sb < 16) {
        idctAdd(coef, sb * 16, yP, yOff + (sb >> 2) * 4 * yS + (sb & 3) * 4, yS)
        sb += 1
      }
    }

    // ---------- chroma ----------
    val uOff = (mbY * 8) * cS + mbX * 8
    predict8(uP, uOff, cS, mb.uvMode, mbX, mbY)
    predict8(vP, uOff, cS, mb.uvMode, mbX, mbY)
    var c = 0
    while (c < 2) {
      val plane = if (c == 0) uP else vP
      var sbc = 0
      while (sbc < 4) {
        val o = uOff + (sbc >> 1) * 4 * cS + (sbc & 1) * 4
        idctAdd(coef, (16 + c * 4 + sbc) * 16, plane, o, cS)
        sbc += 1
      }
      c += 1
    }
  }

  /** 16x16 intra prediction (§12.2). */
  private def predict16(p: Array[Byte], off: Int, stride: Int, mode: Int,
      mbX: Int, mbY: Int): Unit = {
    val hasA = mbY > 0; val hasL = mbX > 0
    def above(x: Int): Int = if (hasA) p(off - stride + x) & 0xff else 127
    def left(y: Int): Int = if (hasL) p(off + y * stride - 1) & 0xff else 129
    val al = if (hasA && hasL) p(off - stride - 1) & 0xff
      else if (hasA) p(off - stride - 1) & 0xff // left frame edge: 129 was
      else 127
    // NOTE on al: when mbX == 0 the byte at off-stride-1 belongs to the
    // previous MB row's right edge — it is NOT the notional 129. Handle
    // explicitly below.
    val aboveLeft = if (!hasA) 127 else if (!hasL) 129 else al
    mode match {
      case DC_PRED =>
        var sum = 0; var n = 0
        if (hasA) { var x = 0; while (x < 16) { sum += above(x); x += 1 }; n += 16 }
        if (hasL) { var y = 0; while (y < 16) { sum += left(y); y += 1 }; n += 16 }
        val dc = if (n == 0) 128 else (sum + n / 2) / n
        fill(p, off, stride, 16, dc)
      case V_PRED =>
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) { p(off + y * stride + x) = above(x).toByte; x += 1 }
          y += 1
        }
      case H_PRED =>
        var y = 0
        while (y < 16) {
          val v = left(y).toByte
          var x = 0
          while (x < 16) { p(off + y * stride + x) = v; x += 1 }
          y += 1
        }
      case _ => // TM
        var y = 0
        while (y < 16) {
          val l = left(y)
          var x = 0
          while (x < 16) {
            p(off + y * stride + x) = clamp255(l + above(x) - aboveLeft).toByte
            x += 1
          }
          y += 1
        }
    }
  }

  /** 8x8 chroma intra prediction (§12.2). */
  private def predict8(p: Array[Byte], off: Int, stride: Int, mode: Int,
      mbX: Int, mbY: Int): Unit = {
    val hasA = mbY > 0; val hasL = mbX > 0
    def above(x: Int): Int = if (hasA) p(off - stride + x) & 0xff else 127
    def left(y: Int): Int = if (hasL) p(off + y * stride - 1) & 0xff else 129
    val aboveLeft = if (!hasA) 127 else if (!hasL) 129 else p(off - stride - 1) & 0xff
    mode match {
      case DC_PRED =>
        var sum = 0; var n = 0
        if (hasA) { var x = 0; while (x < 8) { sum += above(x); x += 1 }; n += 8 }
        if (hasL) { var y = 0; while (y < 8) { sum += left(y); y += 1 }; n += 8 }
        val dc = if (n == 0) 128 else (sum + n / 2) / n
        fill(p, off, stride, 8, dc)
      case V_PRED =>
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { p(off + y * stride + x) = above(x).toByte; x += 1 }
          y += 1
        }
      case H_PRED =>
        var y = 0
        while (y < 8) {
          val v = left(y).toByte
          var x = 0
          while (x < 8) { p(off + y * stride + x) = v; x += 1 }
          y += 1
        }
      case _ =>
        var y = 0
        while (y < 8) {
          val l = left(y)
          var x = 0
          while (x < 8) {
            p(off + y * stride + x) = clamp255(l + above(x) - aboveLeft).toByte
            x += 1
          }
          y += 1
        }
    }
  }

  private def fill(p: Array[Byte], off: Int, stride: Int, n: Int, v: Int): Unit = {
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) { p(off + y * stride + x) = v.toByte; x += 1 }
      y += 1
    }
  }

  /** 4x4 sub-block prediction (§12.3): a = above[0..7] (with above-right),
    * al = above-left, l = left[0..3]. */
  private def predict4(p: Array[Byte], off: Int, stride: Int, mode: Int,
      a: Array[Int], al: Int, l: Array[Int]): Unit = {
    def set(x: Int, y: Int, v: Int): Unit = p(off + y * stride + x) = v.toByte
    mode match {
      case 0 => // B_DC_PRED: average of above4 + left4, +4 >> 3
        var s = 4
        var i = 0
        while (i < 4) { s += a(i) + l(i); i += 1 }
        val dc = s >> 3
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, dc); x += 1 }; y += 1 }
      case 1 => // B_TM_PRED
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { set(x, y, clamp255(l(y) + a(x) - al)); x += 1 }
          y += 1
        }
      case 2 => // B_VE_PRED: filtered above
        val v0 = avg3(al, a(0), a(1)); val v1 = avg3(a(0), a(1), a(2))
        val v2 = avg3(a(1), a(2), a(3)); val v3 = avg3(a(2), a(3), a(4))
        var y = 0
        while (y < 4) { set(0, y, v0); set(1, y, v1); set(2, y, v2); set(3, y, v3); y += 1 }
      case 3 => // B_HE_PRED: filtered left
        val h0 = avg3(al, l(0), l(1)); val h1 = avg3(l(0), l(1), l(2))
        val h2 = avg3(l(1), l(2), l(3)); val h3 = avg3(l(2), l(3), l(3))
        var x = 0
        while (x < 4) { set(x, 0, h0); set(x, 1, h1); set(x, 2, h2); set(x, 3, h3); x += 1 }
      case 6 => // B_LD_PRED (down-left)
        set(0, 0, avg3(a(0), a(1), a(2)))
        val d1 = avg3(a(1), a(2), a(3)); set(1, 0, d1); set(0, 1, d1)
        val d2 = avg3(a(2), a(3), a(4)); set(2, 0, d2); set(1, 1, d2); set(0, 2, d2)
        val d3 = avg3(a(3), a(4), a(5)); set(3, 0, d3); set(2, 1, d3); set(1, 2, d3); set(0, 3, d3)
        val d4 = avg3(a(4), a(5), a(6)); set(3, 1, d4); set(2, 2, d4); set(1, 3, d4)
        val d5 = avg3(a(5), a(6), a(7)); set(3, 2, d5); set(2, 3, d5)
        set(3, 3, avg3(a(6), a(7), a(7)))
      case 4 => // B_RD_PRED (down-right)
        set(0, 3, avg3(l(3), l(2), l(1)))
        val r1 = avg3(l(2), l(1), l(0)); set(0, 2, r1); set(1, 3, r1)
        val r2 = avg3(l(1), l(0), al); set(0, 1, r2); set(1, 2, r2); set(2, 3, r2)
        val r3 = avg3(l(0), al, a(0)); set(0, 0, r3); set(1, 1, r3); set(2, 2, r3); set(3, 3, r3)
        val r4 = avg3(al, a(0), a(1)); set(1, 0, r4); set(2, 1, r4); set(3, 2, r4)
        val r5 = avg3(a(0), a(1), a(2)); set(2, 0, r5); set(3, 1, r5)
        set(3, 0, avg3(a(1), a(2), a(3)))
      case 5 => // B_VR_PRED (vertical-right)
        set(0, 3, avg3(l(2), l(1), l(0)))
        set(0, 2, avg3(l(1), l(0), al))
        val v1 = avg3(l(0), al, a(0)); set(0, 1, v1); set(1, 3, v1)
        val v2 = avg2(al, a(0)); set(0, 0, v2); set(1, 2, v2)
        val v3 = avg3(al, a(0), a(1)); set(1, 1, v3); set(2, 3, v3)
        val v4 = avg2(a(0), a(1)); set(1, 0, v4); set(2, 2, v4)
        val v5 = avg3(a(0), a(1), a(2)); set(2, 1, v5); set(3, 3, v5)
        val v6 = avg2(a(1), a(2)); set(2, 0, v6); set(3, 2, v6)
        set(3, 1, avg3(a(1), a(2), a(3)))
        set(3, 0, avg2(a(2), a(3)))
      case 7 => // B_VL_PRED (vertical-left)
        set(0, 0, avg2(a(0), a(1)))
        val w1 = avg3(a(0), a(1), a(2)); set(0, 1, w1)
        val w2 = avg2(a(1), a(2)); set(1, 0, w2); set(0, 2, w2)
        val w3 = avg3(a(1), a(2), a(3)); set(1, 1, w3); set(0, 3, w3)
        val w4 = avg2(a(2), a(3)); set(2, 0, w4); set(1, 2, w4)
        val w5 = avg3(a(2), a(3), a(4)); set(2, 1, w5); set(1, 3, w5)
        val w6 = avg2(a(3), a(4)); set(3, 0, w6); set(2, 2, w6)
        val w7 = avg3(a(3), a(4), a(5)); set(3, 1, w7); set(2, 3, w7)
        set(3, 2, avg3(a(4), a(5), a(6)))
        set(3, 3, avg3(a(5), a(6), a(7)))
      case 8 => // B_HD_PRED (horizontal-down)
        val h0 = avg2(l(3), l(2)); set(0, 3, h0)
        val h1 = avg3(l(3), l(2), l(1)); set(1, 3, h1)
        val h2 = avg2(l(2), l(1)); set(0, 2, h2); set(2, 3, h2)
        val h3 = avg3(l(2), l(1), l(0)); set(1, 2, h3); set(3, 3, h3)
        val h4 = avg2(l(1), l(0)); set(0, 1, h4); set(2, 2, h4)
        val h5 = avg3(l(1), l(0), al); set(1, 1, h5); set(3, 2, h5)
        val h6 = avg2(l(0), al); set(0, 0, h6); set(2, 1, h6)
        val h7 = avg3(l(0), al, a(0)); set(1, 0, h7); set(3, 1, h7)
        set(2, 0, avg3(al, a(0), a(1)))
        set(3, 0, avg3(a(0), a(1), a(2)))
      case _ => // 9: B_HU_PRED (horizontal-up)
        set(0, 0, avg2(l(0), l(1)))
        set(1, 0, avg3(l(0), l(1), l(2)))
        val u2 = avg2(l(1), l(2)); set(2, 0, u2); set(0, 1, u2)
        val u3 = avg3(l(1), l(2), l(3)); set(3, 0, u3); set(1, 1, u3)
        val u4 = avg2(l(2), l(3)); set(2, 1, u4); set(0, 2, u4)
        val u5 = avg3(l(2), l(3), l(3)); set(3, 1, u5); set(1, 2, u5)
        set(2, 2, l(3)); set(3, 2, l(3))
        set(0, 3, l(3)); set(1, 3, l(3)); set(2, 3, l(3)); set(3, 3, l(3))
    }
  }
}
