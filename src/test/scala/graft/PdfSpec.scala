package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.{PdfParser, PdfWriter}
import graft.pdf.PdfWriter.PageSpec

/** Round-trip tests: our deterministic PDF writer feeds the from-scratch
  * parser (SURVEY.md §7.1.2 — the writer exists so the parser is testable
  * with zero external data).
  */
class PdfSpec extends AnyFunSuite {

  test("single uncompressed page round-trips line-exact") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector(
      "# Report Title", "First line of text.", "Second line.")))))
    assert(PdfParser.isPdf(pdf))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.text) == Right("# Report Title\nFirst line of text.\nSecond line.") && r.map(_.pages) == Right(1))
  }

  test("FlateDecode page round-trips") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector(
      "Compressed content line A", "Line B with numbers 12345")), compress = true)))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.text) == Right("Compressed content line A\nLine B with numbers 12345"))
  }

  test("multi-page order preserved, pages joined by blank line") {
    val pdf = PdfWriter.write(Vector(
      PageSpec(Vector(Vector("Page one text"))),
      PageSpec(Vector(Vector("Page two text")), compress = true),
      PageSpec(Vector(Vector("Page three text")))))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.pageTexts) == Right(Vector("Page one text", "Page two text", "Page three text")))
  }

  test("two columns read left column fully before right (x-gap clustering)") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(
      Vector("L1 left", "L2 left"),
      Vector("R1 right", "R2 right")))))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.text) == Right("L1 left\nL2 left\n\nR1 right\nR2 right") && r.map(_.pages) == Right(1))
  }

  test("rotated page: /Rotate discarded like the reference's set_rotation(0)") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector(
      "Rotated line 1", "Rotated line 2")), rotate = 90)))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.text) == Right("Rotated line 1\nRotated line 2"))
  }

  test("special characters: parens, backslash, latin-1") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector(
      "Parens (like this) ok", "Back\\slash", "Café über")))))
    val r = PdfParser.parse(pdf)
    assert(r.map(_.text) == Right("Parens (like this) ok\nBack\\slash\nCafé über"))
  }

  test("malformed inputs yield Left, never throw") {
    assert(PdfParser.parse("not a pdf at all".getBytes).isLeft)
    assert(PdfParser.parse(Array.emptyByteArray).isLeft)
    val good = PdfWriter.write(Vector(PageSpec(Vector(Vector("hello world")))))
    // truncate at 60%: damaged xref and/or stream
    val truncated = java.util.Arrays.copyOfRange(good, 0, (good.length * 0.6).toInt)
    val r = PdfParser.parse(truncated)
    assert(r.isLeft || r.isRight) // must not throw; either recovers via scan or errs
    // flip bytes inside the stream
    val corrupt = good.clone()
    val si = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1).indexOf("stream")
    var i = si + 10
    while (i < si + 14) { corrupt(i) = 0x7f.toByte; i += 1 }
    PdfParser.parse(corrupt) // lenient: raw stream still yields some text or error
  }

  test("isPdf sniffing") {
    assert(PdfParser.isPdf("%PDF-1.4\nrest".getBytes))
    assert(!PdfParser.isPdf("<html></html>".getBytes))
    assert(!PdfParser.isPdf(null))
  }

  // ---- PDF 1.5+ container formats (xref streams / object streams) ----

  private val modernPages = Vector(
    PageSpec(Vector(Vector("# Modern Doc", "Body line one", "Body line two"))),
    PageSpec(Vector(Vector("Second page content")), compress = true))
  private val wantText = "# Modern Doc\nBody line one\nBody line two\n\nSecond page content"

  test("xref stream (uncompressed entries) parses identically to classic") {
    val pdf = PdfWriter.write(modernPages, PdfWriter.XrefStream())
    assert(PdfParser.parse(pdf).map(_.text) == Right(wantText))
  }

  test("xref stream with PNG Up predictor (/Predictor 12) parses") {
    val pdf = PdfWriter.write(modernPages, PdfWriter.XrefStream(predictor = true))
    assert(PdfParser.parse(pdf).map(_.text) == Right(wantText))
  }

  test("object streams: dict objects packed in a compressed /ObjStm parse") {
    val pdf = PdfWriter.write(modernPages, PdfWriter.XrefStream(objStm = true))
    assert(PdfParser.parse(pdf).map(_.text) == Right(wantText))
  }

  test("objstm + predictor combined; byte-identical text across all four flavors") {
    val flavors = Seq(
      PdfWriter.Classic,
      PdfWriter.XrefStream(),
      PdfWriter.XrefStream(predictor = true),
      PdfWriter.XrefStream(objStm = true, predictor = true))
    val texts = flavors.map(f => PdfParser.parse(PdfWriter.write(modernPages, f)).map(_.text))
    assert(texts.forall(_ == Right(wantText)), texts.toString)
  }

  // ---- stream filter breadth: ASCIIHex / ASCII85 / RunLength / LZW ----

  private val filterLines = Vector(
    "Filter test line one.", "Second line, numbers 0123456789.",
    "Repeatssssssssssss and    spaces.")

  for (f <- Seq(PdfWriter.AsciiHexF, PdfWriter.Ascii85F,
      PdfWriter.RunLengthF, PdfWriter.LzwF, PdfWriter.FlateF)) {
    test(s"content stream with /${f.name} round-trips") {
      val pdf = PdfWriter.write(Vector(PageSpec(Vector(filterLines), filters = Vector(f))))
      assert(PdfParser.parse(pdf).map(_.text) == Right(filterLines.mkString("\n")))
    }
  }

  test("filter chain [/ASCII85 /FlateDecode] and [/ASCIIHex /LZW] round-trip") {
    for (chain <- Seq(
        Vector(PdfWriter.Ascii85F, PdfWriter.FlateF),
        Vector(PdfWriter.AsciiHexF, PdfWriter.LzwF))) {
      val pdf = PdfWriter.write(Vector(PageSpec(Vector(filterLines), filters = chain)))
      assert(PdfParser.parse(pdf).map(_.text) == Right(filterLines.mkString("\n")), chain.toString)
    }
  }

  test("LZW known vector: 'AAAAAA' decodes from hand-packed 9-bit codes") {
    // codes: 256(clear) 65 258 259 257(EOD) at 9 bits each, MSB-first
    val bytes = Array(0x80, 0x10, 0x60, 0x50, 0x38, 0x08).map(_.toByte)
    assert(new String(PdfParser.lzw(bytes, 1), "ISO-8859-1") == "AAAAAA")
  }

  test("LZW width growth: >253 dictionary entries forces 10-bit codes") {
    // varied bytes so the dictionary grows fast; round-trip through encoder
    val rng = new scala.util.Random(7)
    val raw = Array.fill(8192)((rng.nextInt(64) + 32).toByte)
    val enc = PdfWriter.encodeOne(PdfWriter.LzwF, raw)
    assert(java.util.Arrays.equals(PdfParser.lzw(enc, 1), raw))
  }

  test("ASCII85 edge cases: z shortcut, partial final group, whitespace") {
    val zeros = new Array[Byte](8) // two 'z' groups
    val encZ = PdfWriter.encodeOne(PdfWriter.Ascii85F, zeros)
    assert(new String(encZ, "ISO-8859-1") == "zz~>")
    assert(java.util.Arrays.equals(PdfParser.ascii85(encZ), zeros))
    for (n <- 1 to 9) {
      val raw = (1 to n).map(_.toByte).toArray
      val enc = PdfWriter.encodeOne(PdfWriter.Ascii85F, raw)
      // whitespace inside the encoding must be ignored
      val spaced = new String(enc, "ISO-8859-1").flatMap(c => s"$c\n").getBytes("ISO-8859-1")
      assert(java.util.Arrays.equals(PdfParser.ascii85(spaced), raw), s"n=$n")
    }
  }

  test("RunLength edge cases: long runs, literals, EOD") {
    val raw = (Array.fill(300)('x'.toByte) ++ "abcdef".getBytes ++ Array.fill(2)('y'.toByte))
    val enc = PdfWriter.encodeOne(PdfWriter.RunLengthF, raw)
    assert(java.util.Arrays.equals(PdfParser.runLength(enc), raw))
    assert((enc.last & 0xff) == 128)
  }

  test("unsupported filter yields pdf_filter_unsupported error row, no throw") {
    val good = PdfWriter.write(Vector(PageSpec(Vector(Vector("hi")))))
    val doctored = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("<< /Length", "<< /Filter /JBIG2Decode /Length")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val r = PdfParser.parse(doctored)
    assert(r == Left("pdf_filter_unsupported:JBIG2Decode"))
  }

  // ---- font machinery: Encoding/Differences, ToUnicode, Type0 ----

  test("Type0/Identity-H font with ToUnicode round-trips non-Latin text") {
    val lines = Vector("Ωμέγα κείμενο εδώ", "中文测试 一二三", "Mixed: αβγ and ascii")
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(lines))), font = PdfWriter.Type0Font)
    assert(PdfParser.parse(pdf).map(_.text) == Right(lines.mkString("\n")))
  }

  test("Type0 font inside xref-stream/objstm container round-trips") {
    val lines = Vector("Ünïcode vía Type0 — ok")
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(lines), compress = true)),
      PdfWriter.XrefStream(objStm = true, predictor = true), PdfWriter.Type0Font)
    assert(PdfParser.parse(pdf).map(_.text) == Right(lines.mkString("\n")))
  }

  test("CID-keyed embedded /Encoding CMap (no ToUnicode) round-trips via Identity ordering") {
    // mixed 1-byte (ASCII codespace) and 2-byte (0x8000+cp cidrange) codes;
    // CID→Unicode comes from the Identity-ordering fallback, not ToUnicode
    val lines = Vector("ascii with ~ tilde", "Ωμέγα and 中文 mixed", "é ü ß € punctuation: …")
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(lines))), font = PdfWriter.CidCMapFont)
    // the document genuinely carries no ToUnicode and a CMap-stream encoding
    val s = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!s.contains("/ToUnicode") && s.contains("begincidrange"), "fixture must be CID-keyed")
    assert(PdfParser.parse(pdf).map(_.text) == Right(lines.mkString("\n")))
  }

  test("CID-keyed CMap font composes with xref-stream/objstm containers and compression") {
    val lines = Vector("CID via объект streams — ok")
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(lines), compress = true)),
      PdfWriter.XrefStream(objStm = true, predictor = true), PdfWriter.CidCMapFont)
    assert(PdfParser.parse(pdf).map(_.text) == Right(lines.mkString("\n")))
  }

  test("parseCidCMap: codespaces, cidchar, cidrange; registry ordering stays fenced") {
    val cmap = ("2 begincodespacerange\n<20> <7E>\n<8000> <FFFF>\nendcodespacerange\n" +
      "1 begincidchar\n<7E> 126\nendcidchar\n" +
      "2 begincidrange\n<20> <7D> 32\n<8000> <FFFF> 0\nendcidrange\nendcmap\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val (spaces, chars, ranges) = PdfParser.parseCidCMap(cmap)
    assert(spaces == Vector((1, 0x20, 0x7e), (2, 0x8000, 0xffff)))
    assert(chars == Map(0x7e -> 126))
    assert(ranges == Vector((0x20, 0x7d, 32), (0x8000, 0xffff, 0)))
    // a NON-Identity ordering must NOT get the CID-as-codepoint fallback:
    // a registry CID indexes a glyph collection, not Unicode
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector("AB")))), font = PdfWriter.CidCMapFont)
    val doctored = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("(Identity)", "(Japan1.)") // same length keeps offsets valid
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val txt = PdfParser.parse(doctored).map(_.text)
    assert(txt.isRight && !txt.toOption.get.contains("AB"), txt.toString)
  }

  // deterministic fake JPEG: real SOI/APP0 + EOI magic around seeded bytes
  private def fakeJpeg(seed: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(len, 8))
    val magic = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
    System.arraycopy(magic, 0, out, 0, 4)
    var x = seed | 1L
    var i = 4
    while (i < out.length - 2) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      out(i) = (x & 0xff).toByte
      i += 1
    }
    out(out.length - 2) = 0xff.toByte; out(out.length - 1) = 0xd9.toByte
    out
  }

  test("embedded images round-trip: DCT bytes ship undecoded, raw samples fully decoded") {
    val jpeg = fakeJpeg(7L, 300)
    val samples = Array.tabulate(16 * 8 * 3)(i => (i * 31 & 0xff).toByte)
    val page = PageSpec(Vector(Vector("text above a figure")), images = Vector(
      PdfWriter.ImageSpec(40, 30, PdfWriter.DctCodec, jpeg),
      // raw samples stored Flate-compressed: parser must fully decode
      PdfWriter.ImageSpec(16, 8, PdfWriter.RawSamples, samples,
        outerFilters = Vector(PdfWriter.FlateF))))
    val pdf = PdfWriter.write(Vector(page))
    // text extraction is unaffected by the images
    assert(PdfParser.parse(pdf).map(_.text) == Right("text above a figure"))
    val imgs = PdfParser.extractImages(pdf).toOption.get
    assert(imgs.map(i => (i.page, i.name, i.format, i.width, i.height, i.colorSpace, i.bitsPerComponent)) ==
      Vector((0, "Im0", "jpeg", 40, 30, "DeviceRGB", 8), (0, "Im1", "raw", 16, 8, "DeviceRGB", 8)))
    assert(java.util.Arrays.equals(imgs(0).data, jpeg), "DCT payload must pass through byte-identical")
    assert(java.util.Arrays.equals(imgs(1).data, samples), "flate-wrapped raw samples must decode")
  }

  test("Flate-over-DCT chain strips the outer filter and keeps the JPEG bytes") {
    val jpeg = fakeJpeg(11L, 220)
    val page = PageSpec(Vector(Vector("x")), images = Vector(
      PdfWriter.ImageSpec(20, 20, PdfWriter.DctCodec, jpeg,
        outerFilters = Vector(PdfWriter.FlateF))))
    val imgs = PdfParser.extractImages(PdfWriter.write(Vector(page))).toOption.get
    assert(imgs.map(_.format) == Vector("jpeg"))
    assert(java.util.Arrays.equals(imgs(0).data, jpeg))
  }

  test("jp2/jbig2/ccitt payloads are classified and shipped undecoded") {
    val p1 = Array.tabulate(64)(i => (i * 7).toByte)
    val p2 = Array.tabulate(48)(i => (i * 11).toByte)
    val p3 = Array.tabulate(32)(i => (i * 13).toByte)
    val page = PageSpec(Vector(Vector("x")), images = Vector(
      PdfWriter.ImageSpec(10, 10, PdfWriter.JpxCodec, p1),
      PdfWriter.ImageSpec(12, 6, PdfWriter.Jbig2Codec, p2, colorSpace = "DeviceGray",
        bitsPerComponent = 1),
      PdfWriter.ImageSpec(8, 4, PdfWriter.CcittCodec, p3, colorSpace = "DeviceGray",
        bitsPerComponent = 1)))
    val imgs = PdfParser.extractImages(PdfWriter.write(Vector(page))).toOption.get
    assert(imgs.map(i => (i.format, i.colorSpace, i.bitsPerComponent)) ==
      Vector(("jp2", "DeviceRGB", 8), ("jbig2", "DeviceGray", 1), ("ccitt", "DeviceGray", 1)))
    assert(java.util.Arrays.equals(imgs(0).data, p1))
    assert(java.util.Arrays.equals(imgs(1).data, p2))
    assert(java.util.Arrays.equals(imgs(2).data, p3))
  }

  test("images compose with xref-stream/objstm containers and form-XObject pages") {
    val jpeg = fakeJpeg(13L, 150)
    val pages = Vector(
      PageSpec(Vector(Vector("page one")), images = Vector(
        PdfWriter.ImageSpec(30, 20, PdfWriter.DctCodec, jpeg))),
      PageSpec(Vector(Vector("page two no images"))))
    for (flavor <- Seq(PdfWriter.Classic, PdfWriter.XrefStream(objStm = true, predictor = true));
         form <- Seq(false, true)) {
      val pdf = PdfWriter.write(pages, flavor, PdfWriter.WinAnsiFont, formXObject = form)
      assert(PdfParser.parse(pdf).map(_.text) == Right("page one\n\npage two no images"),
        s"text under $flavor form=$form")
      val imgs = PdfParser.extractImages(pdf).toOption.get
      assert(imgs.map(i => (i.page, i.format)) == Vector((0, "jpeg")), s"imgs under $flavor form=$form")
      assert(java.util.Arrays.equals(imgs(0).data, jpeg))
    }
  }

  test("text-empty PDF with images is labeled pdf_image_only (scanned), not pdf_no_text") {
    val scanned = PdfWriter.write(Vector(PageSpec(Vector(Vector()), images = Vector(
      PdfWriter.ImageSpec(612, 792, PdfWriter.DctCodec, fakeJpeg(5L, 400))))))
    val ext = graft.extract.Extractor.extract("scan.pdf", scanned)
    assert(ext.status == "error" && ext.error == "pdf_image_only" && ext.pages == 1)
    val blank = PdfWriter.write(Vector(PageSpec(Vector(Vector()))))
    assert(graft.extract.Extractor.extract("blank.pdf", blank).error == "pdf_no_text")
  }

  test("/Encoding /Differences maps AGL names and uniXXXX back to chars") {
    val lines = Vector("Café — naïve • done", "Ωmega via uni03A9")
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(lines))), font = PdfWriter.DifferencesFont)
    assert(PdfParser.parse(pdf).map(_.text) == Right(lines.mkString("\n")))
  }

  test("all three font flavors agree byte-for-byte on WinAnsi-expressible text") {
    val lines = Vector("Plain ascii text.", "Accents: é ü ñ ß", "Dashes — and • bullets")
    val texts = Seq(PdfWriter.WinAnsiFont, PdfWriter.DifferencesFont, PdfWriter.Type0Font).map {
      ff => PdfParser.parse(PdfWriter.write(Vector(PageSpec(Vector(lines))), font = ff)).map(_.text)
    }
    assert(texts.forall(_ == Right(lines.mkString("\n"))), texts.toString)
  }

  test("MacRomanEncoding: same byte decodes per the Mac table, not WinAnsi") {
    // 0xA4 is '¤' in WinAnsi but '§' in MacRoman
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector("x¤x")))))
    assert(PdfParser.parse(pdf).map(_.text) == Right("x¤x"))
    val doctored = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/Encoding /WinAnsiEncoding", "/Encoding /MacRomanEncoding")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.parse(doctored).map(_.text) == Right("x§x"))
  }

  test("literal string with UTF-16BE BOM decodes as UTF-16BE") {
    // splice a BOM-prefixed UTF-16BE string into a content stream by hand
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector("placeholder")))))
    val s = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val utf16 = "þÿ" + new String(
      "Hi Ω".getBytes(java.nio.charset.StandardCharsets.UTF_16BE),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val doctored0 = s.replace("(placeholder)", "(" + utf16 + ")")
    // fix /Length: the stream is uncompressed, so adjust by the size delta
    val delta = utf16.length - "placeholder".length
    val lenRe = "/Length (\\d+)".r
    val m = lenRe.findFirstMatchIn(doctored0).get
    val doctored = doctored0.replaceFirst("/Length \\d+", s"/Length ${m.group(1).toInt + delta}")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.parse(doctored).map(_.text) == Right("Hi Ω"))
  }

  test("parseCMap: bfrange incremental and array destinations") {
    val cmap =
      """1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfrange
        |<0010> <0012> <0041>
        |<0020> <0021> [<00480069> <0042>]
        |endbfrange
        |1 beginbfchar
        |<0001> <20AC>
        |endbfchar
        |""".stripMargin.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = PdfParser.parseCMap(cmap)
    assert(m(0x10) == "A" && m(0x11) == "B" && m(0x12) == "C")
    assert(m(0x20) == "Hi" && m(0x21) == "B") // array form, multi-char dst
    assert(m(0x01) == "€")
  }

  test("broken ToUnicode or font dict never fails the page (lenient fonts)") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector("still works")))))
    val doctored = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/BaseFont /Helvetica", "/BaseFont /Helvetica /ToUnicode 99 0 R")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.parse(doctored).map(_.text) == Right("still works"))
  }

  // ---- Form XObjects (`Do` operator) ----

  test("text inside a Form XObject extracts identically to inline content") {
    val pages = Vector(
      PageSpec(Vector(Vector("# Form Doc", "Line in a form", "Second line")), compress = true),
      PageSpec(Vector(Vector("Left col", "more left"), Vector("Right col", "more right"))))
    val inline0 = PdfParser.parse(PdfWriter.write(pages)).map(_.text)
    val viaForm = PdfParser.parse(PdfWriter.write(pages, formXObject = true)).map(_.text)
    assert(viaForm == inline0 && viaForm.isRight, s"$viaForm vs $inline0")
  }

  test("Form XObjects compose with xref-stream containers and Type0 fonts") {
    val pages = Vector(PageSpec(Vector(Vector("Ünïcode in a fôrm — Ω")),
      filters = Vector(PdfWriter.Ascii85F, PdfWriter.FlateF)))
    val pdf = PdfWriter.write(pages, PdfWriter.XrefStream(objStm = true, predictor = true),
      PdfWriter.Type0Font, formXObject = true)
    assert(PdfParser.parse(pdf).map(_.text) == Right("Ünïcode in a fôrm — Ω"))
  }

  test("missing or non-form XObject in Do is ignored, never throws") {
    val pdf = PdfWriter.write(Vector(PageSpec(Vector(Vector("kept text")))))
    // splice a Do for an undefined name into the (raw) content stream
    val s = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val doctored0 = s.replace("BT\n", "/NoSuchX Do\nBT\n")
    val delta = "/NoSuchX Do\n".length
    val m = "/Length (\\d+)".r.findFirstMatchIn(doctored0).get
    val doctored = doctored0.replaceFirst("/Length \\d+", s"/Length ${m.group(1).toInt + delta}")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfParser.parse(doctored).map(_.text) == Right("kept text"))
  }

  test("mutation fuzz: parse never throws on corrupted documents") {
    // deterministic corruption sweep over every writer flavor: truncations,
    // single-byte flips, byte deletions, and garbage splices (X7: a
    // malformed document must yield an error row, never an exception)
    val bases = Seq(
      PdfWriter.write(modernPages),
      PdfWriter.write(modernPages, PdfWriter.XrefStream(objStm = true, predictor = true)),
      PdfWriter.write(modernPages, PdfWriter.Classic, PdfWriter.Type0Font),
      PdfWriter.write(Vector(PageSpec(Vector(filterLines),
        filters = Vector(PdfWriter.Ascii85F, PdfWriter.LzwF))), formXObject = true))
    val rng = new scala.util.Random(20260817L)
    var parses = 0
    for (base <- bases) {
      for (k <- 1 until 20) { // truncations at 5% steps
        PdfParser.parse(java.util.Arrays.copyOfRange(base, 0, base.length * k / 20))
        parses += 1
      }
      for (_ <- 0 until 150) { // random single-byte flips
        val m = base.clone()
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
        PdfParser.parse(m)
        parses += 1
      }
      for (_ <- 0 until 50) { // random 1-16 byte deletions
        val at = rng.nextInt(base.length - 16)
        val len = 1 + rng.nextInt(16)
        val m = java.util.Arrays.copyOfRange(base, 0, at) ++
          java.util.Arrays.copyOfRange(base, at + len, base.length)
        PdfParser.parse(m)
        parses += 1
      }
      for (_ <- 0 until 50) { // garbage splices (structure-breaking tokens)
        val tokens = Seq(" stream ", " endobj ", "<<", ">>", "(((", "%PDF-", "  ")
        val at = rng.nextInt(base.length)
        val t = tokens(rng.nextInt(tokens.length)).getBytes("ISO-8859-1")
        val m = java.util.Arrays.copyOfRange(base, 0, at) ++ t ++
          java.util.Arrays.copyOfRange(base, at, base.length)
        PdfParser.parse(m)
        parses += 1
      }
    }
    assert(parses > 1000) // the sweep actually ran
  }

  test("decompression bomb: oversized expansion becomes an error, not an OOM") {
    // ~300 MiB of zeros deflates to ~300 KiB; decode must refuse it
    val bomb = {
      val chunk = new Array[Byte](1 << 20)
      val d = new java.util.zip.Deflater()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      (0 until 300).foreach { _ =>
        d.setInput(chunk)
        while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
      }
      d.finish()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }
    val e = intercept[PdfParser.PdfError](PdfParser.inflate(bomb))
    assert(e.msg == "pdf_stream_too_large")
    // a repeat-heavy RunLength stream: 128x expansion per 2 bytes
    val rl = Array.fill(4 << 20)(Array(129.toByte, 'x'.toByte)).flatten
    val e2 = intercept[PdfParser.PdfError](PdfParser.runLength(rl))
    assert(e2.msg == "pdf_stream_too_large")
  }

  test("truncated xref-stream pdf yields Left, never throws") {
    val good = PdfWriter.write(modernPages, PdfWriter.XrefStream(objStm = true, predictor = true))
    (1 until 10).foreach { k =>
      val t = java.util.Arrays.copyOfRange(good, 0, good.length * k / 10)
      PdfParser.parse(t) // must not throw
    }
  }

  test("incremental update: newer ObjStm entry beats stale type-1 offset from /Prev section") {
    // Base: classic one-page PDF (obj 4 = page dict, obj 5 = content "OLD").
    // Appended update: obj 6 = new content stream "NEW", obj 7 = ObjStm
    // holding a REPLACEMENT obj 4 pointing /Contents at 6, obj 8 = xref
    // stream marking obj 4 as type-2 with /Prev -> the old classic table.
    // The /Prev chain is newest->oldest, so the old table's type-1 offset
    // for obj 4 is stale and must not shadow the ObjStm version.
    val base = PdfWriter.write(Vector(PageSpec(Vector(Vector("OLD CONTENT")))))
    assert(PdfParser.parse(base).map(_.text) == Right("OLD CONTENT"))
    val baseStr = new String(base, "ISO-8859-1")
    val oldXref = baseStr.substring(baseStr.lastIndexOf("startxref") + 9).trim
      .takeWhile(_.isDigit).toInt

    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val off6 = out.size()
    val cont = "BT\n/F1 12 Tf\n72 700 Td\n(NEW CONTENT) Tj\nET\n"
    w(s"6 0 obj\n<< /Length ${cont.length} >>\nstream\n$cont\nendstream\nendobj\n")
    val off7 = out.size()
    val newPage = "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 3 0 R >> >> /Contents 6 0 R >>"
    val stmPayload = s"4 0\n$newPage"
    val first = "4 0\n".length
    w(s"7 0 obj\n<< /Type /ObjStm /N 1 /First $first /Length ${stmPayload.length} >>\nstream\n" +
      stmPayload + "\nendstream\nendobj\n")
    val off8 = out.size()
    // xref stream, W [1 4 2], Index [4 1 6 3]: obj4 type-2 in stm 7 idx 0;
    // objs 6,7,8 type-1 at their offsets
    val rows = Seq[(Int, Int, Int)]((2, 7, 0), (1, off6, 0), (1, off7, 0), (1, off8, 0))
    val xdata = rows.flatMap { case (t, f2, f3) =>
      Seq(t.toByte,
        ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
        ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
    }.toArray
    w(s"8 0 obj\n<< /Type /XRef /Size 9 /Index [4 1 6 3] /W [1 4 2] /Root 1 0 R" +
      s" /Prev $oldXref /Length ${xdata.length} >>\nstream\n")
    out.write(xdata)
    w(s"\nendstream\nendobj\nstartxref\n$off8\n%%EOF\n")

    val r = PdfParser.parse(out.toByteArray)
    assert(r.map(_.text) == Right("NEW CONTENT"))
  }

  test("FlateDecode: a complete zlib stream with empty output inflates to empty, not truncated") {
    val empty = graft.codec.Streams.deflate(Array.emptyByteArray)
    assert(PdfParser.inflate(empty).isEmpty)
    // cut short, the same bytes are still truncated
    val e = intercept[PdfParser.PdfError](PdfParser.inflate(empty.take(3)))
    assert(e.msg == "pdf_flate_truncated")
  }

  test("predictor differential: the codecs' kernels against the old unpredict") {
    val rng = new scala.util.Random(12)
    var same = 0
    for {
      (colors, bpc) <- Seq((1, 8), (3, 8), (4, 8), (2, 8), (1, 16), (3, 16), (1, 1), (1, 2), (1, 4), (3, 4))
      predictor <- Seq(2, 10, 11, 12, 13, 14, 15)
      _ <- 0 until 60
    } {
      val columns = 1 + rng.nextInt(24)
      val rowLen = (columns * colors * bpc + 7) / 8
      val rows = rng.nextInt(6)
      val stride = if (predictor == 2) rowLen else rowLen + 1
      val data = Array.tabulate[Byte](rows * stride + rng.nextInt(stride)) { i =>
        // PNG tags: mostly 0-4, now and then an unknown one
        if (predictor != 2 && i % stride == 0) (if (rng.nextInt(40) == 0) 5 + rng.nextInt(251) else rng.nextInt(5)).toByte
        else rng.nextInt(256).toByte
      }
      def run(f: => Array[Byte]): Either[String, Seq[Byte]] =
        try Right(f.toSeq) catch { case e: PdfParser.PdfError => Left(e.msg) }
      val want = run(OldPredictor.unpredict(data, predictor, columns, colors, bpc))
      assert(run(PdfParser.unpredict(data, predictor, columns, colors, bpc)) == want,
        s"predictor=$predictor colors=$colors bpc=$bpc columns=$columns length=${data.length}")
      same += 1
    }
    assert(same == 4200)
  }

  test("a predictor row of zero bytes is a typed error, not a spin") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    for (predictor <- Seq(2, 12)) {
      val r = Await.result(Future(
        try Right(PdfParser.unpredict(Array.fill[Byte](8)(1), predictor, 0, 1, 8))
        catch { case e: PdfParser.PdfError => Left(e.msg) })(ExecutionContext.global), 5.seconds)
      assert(r == Left("pdf_predictor_unsupported"), s"predictor=$predictor")
    }
  }
}

/** The parent's predictor reversal, verbatim: the differential reference
  * for PDF's predictors reversing through [[graft.codec.Tiff]]'s and
  * [[graft.codec.Png]]'s kernels. */
private object OldPredictor {
  import PdfParser.PdfError

  def unpredict(data: Array[Byte], predictor: Int, columns: Int,
      colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit only)
      if (bpc != 8) throw PdfError("pdf_predictor_unsupported")
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = r + bpp
        while (i < r + rowLen) { out(i) = (out(i) + out(i - bpp)).toByte; i += 1 }
        r += rowLen
      }
      out
    } else { // PNG row filters: each row = 1 tag byte + rowLen data bytes
      val stride = rowLen + 1
      val nRows = data.length / stride
      val out = new Array[Byte](nRows * rowLen)
      val prior = new Array[Byte](rowLen)
      var r = 0
      while (r < nRows) {
        val tag = data(r * stride) & 0xff
        val src = r * stride + 1
        val dst = r * rowLen
        var i = 0
        while (i < rowLen) {
          val raw = data(src + i) & 0xff
          val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
          val up = prior(i) & 0xff
          val upLeft = if (i >= bpp) prior(i - bpp) & 0xff else 0
          val v = tag match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + ((left + up) / 2)
            case 4 => // Paeth
              val pp = left + up - upLeft
              val pa = math.abs(pp - left); val pb = math.abs(pp - up); val pc = math.abs(pp - upLeft)
              raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
            case _ => throw PdfError("pdf_predictor_unsupported")
          }
          out(dst + i) = v.toByte
          i += 1
        }
        System.arraycopy(out, dst, prior, 0, rowLen)
        r += 1
      }
      out
    }
  }
}
