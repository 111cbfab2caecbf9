package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec.{CcittG4, Jbig2}

/** JBIG2 subset codec. Verification posture (see Jbig2 scaladoc): the
  * MMR leg is externally pinned through the JDK-differential CCITT G4
  * decoder; the MQ arithmetic leg is pinned by exhaustive encoder/
  * decoder round-trips (the MQ pair shares only the Qe table, and the
  * bit-level streams — stuffing, carry, renormalization — are produced
  * and consumed by independently written routines following the T.88
  * flowcharts). */
class Jbig2Spec extends AnyFunSuite {

  private def textLike(w: Int, h: Int, seed: Long): Array[Byte] = {
    // sparse strokes on white, like a scanned page
    val bm = new Array[Byte](w * h)
    val rng = new scala.util.Random(seed)
    (0 until math.max(2, w * h / 200)).foreach { _ =>
      val x0 = rng.nextInt(w); val y0 = rng.nextInt(h)
      val len = 1 + rng.nextInt(8)
      val horiz = rng.nextBoolean()
      (0 until len).foreach { k =>
        val x = if (horiz) x0 + k else x0
        val y = if (horiz) y0 else y0 + k
        if (x < w && y < h) bm(y * w + x) = 1
      }
    }
    bm
  }

  test("MQ coder: bit-sequence round-trip with adversarial context reuse") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 20) {
      val n = 2000 + rng.nextInt(3000)
      val nCtx = 1 + rng.nextInt(8)
      val bits = Array.fill(n)(if (rng.nextInt(10) < 3) 1 else 0)
      val cxs = Array.fill(n)(rng.nextInt(nCtx))
      val eIx = new Array[Int](nCtx); val eMps = new Array[Byte](nCtx)
      val enc = new Jbig2.MQEncoder
      (0 until n).foreach(i => enc.encode(eIx, eMps, cxs(i), bits(i)))
      val data = enc.flush()
      val dIx = new Array[Int](nCtx); val dMps = new Array[Byte](nCtx)
      val dec = new Jbig2.MQDecoder(data, 0, data.length)
      (0 until n).foreach { i =>
        val got = dec.decode(dIx, dMps, cxs(i))
        assert(got == bits(i), s"trial $trial bit $i")
      }
    }
  }

  test("MQ coder: skewed all-MPS and all-LPS streams (carry/stuffing stress)") {
    for ((p, seed) <- Seq((0, 1), (1, 2), (50, 3))) {
      val n = 20000
      val rng = new scala.util.Random(seed)
      val bits = Array.fill(n)(if (rng.nextInt(100) < p) 1 else 0)
      val eIx = new Array[Int](1); val eMps = new Array[Byte](1)
      val enc = new Jbig2.MQEncoder
      bits.foreach(b => enc.encode(eIx, eMps, 0, b))
      val data = enc.flush()
      val dIx = new Array[Int](1); val dMps = new Array[Byte](1)
      val dec = new Jbig2.MQDecoder(data, 0, data.length)
      bits.zipWithIndex.foreach { case (b, i) =>
        assert(dec.decode(dIx, dMps, 0) == b, s"p=$p bit $i")
      }
    }
  }

  test("generic region round-trip: all templates, tpgdon on/off, odd sizes") {
    val rng = new scala.util.Random(42)
    for {
      template <- 0 to 3
      tpgdon <- Seq(false, true)
      (w, h) <- Seq((17, 9), (64, 48), (5, 40))
    } {
      val bm = textLike(w, h, rng.nextLong())
      val stream = Jbig2.encode(bm, w, h, template = template, tpgdon = tpgdon)
      Jbig2.decode(stream) match {
        case Right(im) =>
          assert(im.width == w && im.height == h, s"t$template tpgdon=$tpgdon dims")
          val got = im.pixels.map(p => if (p != 0) 1 else 0)
          assert(got.sameElements(bm.map(_.toInt)),
            s"t$template tpgdon=$tpgdon $w x $h pixel drift")
        case Left(err) => fail(s"t$template tpgdon=$tpgdon: $err")
      }
    }
  }

  test("MMR generic region rides the JDK-pinned G4 coder end to end") {
    val w = 48; val h = 20
    val bm = textLike(w, h, 99L)
    val stream = Jbig2.encode(bm, w, h, mmr = true)
    val im = Jbig2.decode(stream).toOption.get
    assert(im.width == w && im.height == h)
    assert(im.pixels.map(p => if (p != 0) 1 else 0).sameElements(bm.map(_.toInt)))
    // and the embedded payload really is T.6: extract nothing — just
    // cross-check the same bitmap through CcittG4 directly
    val g4 = CcittG4.encode(bm, w, h)
    assert(CcittG4.decode(g4, w, h).toOption.get.map(_.toInt).sameElements(bm.map(_.toInt)))
  }

  test("dense and constant bitmaps (tpgdon pays off; all-black edge case)") {
    for ((mk, name) <- Seq(
      ((w: Int, h: Int) => Array.fill(w * h)(1.toByte), "all black"),
      ((w: Int, h: Int) => new Array[Byte](w * h), "all white"),
      ((w: Int, h: Int) => Array.tabulate(w * h)(i => ((i / w) % 2).toByte), "row stripes"),
      ((w: Int, h: Int) => Array.tabulate(w * h)(i => ((i % w) % 2).toByte), "col stripes"))) {
      val w = 33; val h = 21
      val bm = mk(w, h)
      for (tpgdon <- Seq(false, true)) {
        val im = Jbig2.decode(Jbig2.encode(bm, w, h, tpgdon = tpgdon)).toOption.get
        assert(im.pixels.map(p => if (p != 0) 1 else 0).sameElements(bm.map(_.toInt)),
          s"$name tpgdon=$tpgdon")
      }
    }
  }

  test("symbol-coded page round-trips: dict height classes, strips, id remap") {
    // three glyphs of different sizes placed like text lines
    val glyphA = Array[Byte](
      0, 1, 0,
      1, 0, 1,
      1, 1, 1,
      1, 0, 1)
    val glyphB = Array[Byte](
      1, 1,
      1, 0,
      1, 1)
    val glyphDot = Array[Byte](1)
    val syms = Vector((3, 4, glyphA), (2, 3, glyphB), (1, 1, glyphDot))
    val w = 40; val h = 16
    val placements = Seq(
      (0, 1, 1), (1, 6, 2), (0, 10, 1), (2, 15, 4),   // line at y~1
      (1, 2, 9), (1, 6, 9), (0, 11, 8), (2, 16, 11))  // line at y~9
    val stream = Jbig2.encodeSymbolPage(w, h, syms, placements)
    val im = Jbig2.decode(stream).toOption.getOrElse(fail("decode failed"))
    assert(im.width == w && im.height == h)
    // reference render
    val want = new Array[Int](w * h)
    placements.foreach { case (id, x, y) =>
      val (sw, sh, px) = syms(id)
      for (yy <- 0 until sh; xx <- 0 until sw)
        if (px(yy * sw + xx) != 0) want((y + yy) * w + (x + xx)) = 1
    }
    val got = im.pixels.map(p => if (p != 0) 1 else 0)
    assert(got.sameElements(want), "symbol page pixel drift")
  }

  test("symbol page: many instances, shared glyphs, multiple height classes") {
    val rng = new scala.util.Random(123)
    val syms = Vector.tabulate(7) { k =>
      val sw = 1 + rng.nextInt(5); val sh = 1 + rng.nextInt(6)
      val px = Array.fill(sw * sh)((if (rng.nextInt(3) > 0) 1 else 0).toByte)
      px(0) = 1
      (sw, sh, px)
    }
    val w = 120; val h = 60
    val placements = (0 until 200).map { _ =>
      val id = rng.nextInt(syms.length)
      val (sw, sh, _) = syms(id)
      (id, rng.nextInt(w - sw), rng.nextInt(h - sh))
    }
    val stream = Jbig2.encodeSymbolPage(w, h, syms, placements)
    val im = Jbig2.decode(stream).toOption.getOrElse(fail("decode failed"))
    val want = new Array[Int](w * h)
    placements.foreach { case (id, x, y) =>
      val (sw, sh, px) = syms(id)
      for (yy <- 0 until sh; xx <- 0 until sw)
        if (px(yy * sw + xx) != 0) want((y + yy) * w + (x + xx)) = 1
    }
    assert(im.pixels.map(p => if (p != 0) 1 else 0).sameElements(want))
  }

  test("standard huffman tables B.1-B.5: Kraft-complete and range-chained") {
    // two independent structural checks on the transcribed Annex B data:
    // the prefix-length multiset must sum to EXACTLY 1 (complete code)
    // and each normal line's low must extend the previous line's range
    Jbig2.tableInvariants.foreach { case (name, kraft, chain) =>
      assert(kraft == (1L << 32) || kraft == 0x100000000L, s"table $name kraft=$kraft")
      assert(chain, s"table $name range chain broken")
    }
  }

  private def renderWant(w: Int, h: Int, syms: Vector[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)]): Array[Int] = {
    val want = new Array[Int](w * h)
    placements.foreach { case (id, x, y) =>
      val (sw, sh, px) = syms(id)
      for (yy <- 0 until sh; xx <- 0 until sw)
        if (px(yy * sw + xx) != 0) want((y + yy) * w + (x + xx)) = 1
    }
    want
  }

  test("SDHUFF dictionary round-trips: MMR collective bitmaps (JDK-pinned leg)") {
    val rng = new scala.util.Random(7)
    val syms = Vector.tabulate(6) { i =>
      val sw = 2 + i % 4; val sh = 2 + i / 2
      (sw, sh, Array.fill[Byte](sw * sh)(if (rng.nextInt(3) == 0) 0 else 1))
    }
    val w = 64; val h = 24
    val placements = (0 until 20).map { k =>
      (k % syms.length, 2 + (k * 3) % (w - 8), 1 + (k % 3) * 7)
    }
    for (uncompressed <- Seq(false, true)) {
      val stream = Jbig2.encodeSymbolPageHuff(w, h, syms, placements,
        huffText = false, uncompressed = uncompressed)
      val im = Jbig2.decode(stream).fold(e => fail(s"uncompressed=$uncompressed: $e"), identity)
      assert(im.width == w && im.height == h)
      val got = im.pixels.map(p => if (p != 0) 1 else 0)
      assert(got.sameElements(renderWant(w, h, syms, placements)),
        s"SDHUFF pixel drift (uncompressed=$uncompressed)")
    }
  }

  test("SBHUFF text region round-trips: custom FS/DS/DT tables + runcode symbol IDs") {
    val glyphs = Vector(
      (3, 4, Array[Byte](0,1,0, 1,0,1, 1,1,1, 1,0,1)),
      (2, 3, Array[Byte](1,1, 1,0, 1,1)),
      (1, 1, Array[Byte](1)),
      (4, 4, Array[Byte](1,0,0,1, 0,1,1,0, 0,1,1,0, 1,0,0,1)))
    val w = 48; val h = 20
    val placements = Seq(
      (0, 1, 1), (1, 6, 2), (3, 10, 1), (2, 16, 4),
      (1, 2, 9), (3, 8, 9), (0, 14, 8), (2, 20, 11),
      (3, 26, 9), (0, 32, 10))
    val stream = Jbig2.encodeSymbolPageHuff(w, h, glyphs, placements, huffText = true)
    val im = Jbig2.decode(stream).fold(e => fail(e), identity)
    assert(im.width == w && im.height == h)
    val got = im.pixels.map(p => if (p != 0) 1 else 0)
    assert(got.sameElements(renderWant(w, h, glyphs, placements)), "SBHUFF pixel drift")
  }

  test("huffman streams: mutation fuzz never throws, bounded allocation") {
    val syms = Vector((3, 3, Array.fill[Byte](9)(1)), (2, 2, Array.fill[Byte](4)(1)))
    val placements = Seq((0, 1, 1), (1, 6, 2), (0, 10, 1))
    for (huffText <- Seq(false, true)) {
      val good = Jbig2.encodeSymbolPageHuff(30, 12, syms, placements, huffText = huffText)
      val rng = new scala.util.Random(if (huffText) 43 else 42)
      (0 until 400).foreach { _ =>
        val m = good.clone()
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
        Jbig2.decode(m) // Left or Right, never throw
      }
      // every truncation fails closed
      for (n <- Seq(5, 20, good.length / 2, good.length - 3))
        Jbig2.decode(java.util.Arrays.copyOf(good, n))
    }
    succeed
  }

  test("SDHUFF dictionary cut before its export runs fails closed within 5 s") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // page info (30 bytes) + dictionary segment; the dictionary's data
    // length field sits at 37..40 and its data starts at 41
    val syms = Vector((3, 3, Array.fill[Byte](9)(1)), (2, 2, Array.fill[Byte](4)(1)))
    val good = Jbig2.encodeSymbolPageHuff(30, 12, syms, Seq((0, 1, 1), (1, 6, 2)), uncompressed = true)
    val dictLen = ((good(37) & 0xff) << 24) | ((good(38) & 0xff) << 16) | ((good(39) & 0xff) << 8) | (good(40) & 0xff)
    // the last 2 data bytes are the two 5-bit Table B.1 export runs
    val body = java.util.Arrays.copyOfRange(good, 41, 41 + dictLen - 2)
    def dictOnly(data: Array[Byte]): Array[Byte] = {
      val n = data.length
      good.take(37) ++ Array((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte) ++ data
    }
    // reader exhausted at the first run; one zero byte (runs of 0 until
    // exhausted); many zero bytes (runs of 0 until the run bound)
    for (tail <- Seq(0, 1, 64)) {
      val hostile = dictOnly(body ++ new Array[Byte](tail))
      val r = Await.result(Future(Jbig2.decode(hostile))(ExecutionContext.global), 5.seconds)
      assert(r.left.exists(_.contains("export runs")), s"tail=$tail: $r")
    }
  }

  test("arithmetic dictionary whose export runs keep decoding 0 fails closed within 5 s") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // page info (30 bytes) + a valid arithmetic dictionary (#2) exporting
    // two symbols; its data length sits at 37..40 and its data at 41
    val syms = Vector((3, 3, Array.fill[Byte](9)(1)), (2, 2, Array.fill[Byte](4)(1)))
    val good = Jbig2.encodeSymbolPage(30, 12, syms, Seq((0, 1, 1), (1, 6, 2)))
    val dictLen = ((good(37) & 0xff) << 24) | ((good(38) & 0xff) << 16) | ((good(39) & 0xff) << 8) | (good(40) & 0xff)
    def be32(v: Int): Array[Byte] = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    // IAEX runs of 0, MQ-coded: sign 0, prefix 0, two value bits 00, each
    // bit in the PREV-walked context of T.88 A.2
    def zeroRuns(n: Int): Array[Byte] = {
      val enc = new Jbig2.MQEncoder
      val ix = new Array[Int](512); val mps = new Array[Byte](512)
      for (_ <- 0 until n) {
        var prev = 1
        for (_ <- 0 until 4) { enc.encode(ix, mps, prev, 0); prev = prev << 1 }
      }
      enc.flush()
    }
    for (n <- Seq(7, 64, 4096)) {
      // dictionary #3 refers to #2: no new symbols, two input symbols, so
      // a valid stream needs at most 2 * 2 + 2 = 6 export runs
      val data = java.util.Arrays.copyOfRange(good, 41, 51) ++ // flags + nominal AT
        be32(2) ++ be32(0) ++ zeroRuns(n)
      val hostile = good.take(41 + dictLen) ++
        be32(3) ++ Array[Byte](0, 1 << 5, 2, 1) ++ be32(data.length) ++ data
      val r = Await.result(Future(Jbig2.decode(hostile))(ExecutionContext.global), 5.seconds)
      assert(r == Left("jbig2: too many export runs"), s"n=$n")
    }
  }

  test("typed errors: unsupported features and truncation, never throws") {
    val good = Jbig2.encode(textLike(20, 10, 5L), 20, 10)
    // truncations
    (0 until good.length by 7).foreach { n =>
      val r = Jbig2.decode(java.util.Arrays.copyOf(good, n))
      assert(r.isLeft || r.isRight) // must not throw
    }
    // mutation fuzz
    val rng = new scala.util.Random(11)
    (0 until 300).foreach { _ =>
      val m = good.clone()
      m(rng.nextInt(m.length)) = (rng.nextInt(256)).toByte
      Jbig2.decode(m) // must not throw; wrong pixels are fine, crashes are not
    }
    // symbol dictionary segment type → typed error
    val symDict = good.clone()
    symDict(4) = 0 // segment type byte of the first (page info) header
    assert(Jbig2.decode(symDict).left.exists(_.contains("unsupported")))
  }

  test("symbol-stream mutation fuzz: typed errors only, bounded allocation") {
    // regression for the cumulative-dictionary-allocation cap: a 25k-
    // mutation campaign OOMed here before symbol pixels were capped
    // across the whole dictionary (each symbol was individually bounded)
    val good = Jbig2.encodeSymbolPage(30, 20,
      Vector((3, 3, Array.fill[Byte](9)(1)), (2, 2, Array[Byte](1, 0, 0, 1))),
      Seq((0, 1, 1), (1, 6, 2), (0, 11, 9), (1, 20, 14)))
    val rng = new scala.util.Random(47)
    (0 until 2000).foreach { _ =>
      val m = good.clone()
      (0 until 1 + rng.nextInt(4)).foreach { _ =>
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
      }
      Jbig2.decode(m) // must not throw or over-allocate
    }
  }

  test("globals stream prepends transparently") {
    val w = 16; val h = 8
    val bm = textLike(w, h, 3L)
    val full = Jbig2.encode(bm, w, h)
    // split: page-info segment as "globals", rest as the page stream
    // (page info segment is 11 header bytes + 19 data bytes)
    val cut = 11 + 19
    val globals = java.util.Arrays.copyOf(full, cut)
    val rest = java.util.Arrays.copyOfRange(full, cut, full.length)
    val im = Jbig2.decode(rest, globals).toOption.get
    assert(im.width == w && im.height == h)
    assert(im.pixels.map(p => if (p != 0) 1 else 0).sameElements(bm.map(_.toInt)))
  }
}
