package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.codec.Streams

/** Minimal deterministic PDF writer — exists so the from-scratch parser is
  * testable with zero external data (SURVEY.md §7.1.2). Emits PDF 1.4 with a
  * classic xref table, Helvetica text, per-page content streams (raw or
  * FlateDecode), optional /Rotate, 1-2 columns.
  *
  * Page geometry mirrors the reference's letter-at-72dpi view of a page
  * (/root/reference/mvp/utils/pdf_processor.py:35-39 renders at dpi/72 zoom).
  */
object PdfWriter {

  /** Content-stream filters, in DECODE order as they appear in /Filter
    * (i.e. `Vector(Ascii85F, FlateF)` stores a85(deflate(raw))). */
  sealed trait Filter { def name: String }
  case object FlateF extends Filter { val name = "FlateDecode" }
  case object AsciiHexF extends Filter { val name = "ASCIIHexDecode" }
  case object Ascii85F extends Filter { val name = "ASCII85Decode" }
  case object RunLengthF extends Filter { val name = "RunLengthDecode" }
  case object LzwF extends Filter { val name = "LZWDecode" }

  /** How an image XObject's payload is stored. The codec filter (if any)
    * sits LAST in the /Filter chain; the payload bytes are already in
    * codec form (a DCTDecode payload IS a JPEG file) since this writer —
    * like the parser — never rasterizes. */
  sealed trait ImageCodec { def filterName: Option[String] }
  case object RawSamples extends ImageCodec { val filterName: Option[String] = None }
  case object DctCodec extends ImageCodec { val filterName: Option[String] = Some("DCTDecode") }
  case object JpxCodec extends ImageCodec { val filterName: Option[String] = Some("JPXDecode") }
  case object Jbig2Codec extends ImageCodec { val filterName: Option[String] = Some("JBIG2Decode") }
  case object CcittCodec extends ImageCodec { val filterName: Option[String] = Some("CCITTFaxDecode") }

  /** One embedded image on a page: `payload` is the codec-form bytes
    * (raw samples for [[RawSamples]]); `outerFilters` wrap the payload in
    * additional decode-order filters (e.g. Flate over DCT, as some
    * generators emit). */
  final case class ImageSpec(
      width: Int, height: Int,
      codec: ImageCodec,
      payload: Array[Byte],
      colorSpace: String = "DeviceRGB",
      bitsPerComponent: Int = 8,
      outerFilters: Vector[Filter] = Vector.empty)

  final case class PageSpec(
      columns: Vector[Vector[String]], // 1 or 2 columns of text lines
      rotate: Int = 0,                 // 0 / 90 / 180 / 270
      compress: Boolean = false,       // legacy shorthand for Vector(FlateF)
      filters: Vector[Filter] = Vector.empty,
      images: Vector[ImageSpec] = Vector.empty) {
    def effectiveFilters: Vector[Filter] =
      if (filters.nonEmpty) filters else if (compress) Vector(FlateF) else Vector.empty
  }

  private val pageW = 612
  private val pageH = 792
  private val margin = 72
  private val leading = 14
  private val fontSize = 11

  /** Escape a PDF literal string. */
  private def esc(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c => c.toString
    }

  /** CP1252 high-range code points that sit above U+00FF. */
  private val winAnsiRev: Map[Char, Char] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84, '…' -> 0x85,
    '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88, '‰' -> 0x89, 'Š' -> 0x8a,
    '‹' -> 0x8b, 'Œ' -> 0x8c, 'Ž' -> 0x8e, '‘' -> 0x91, '’' -> 0x92,
    '“' -> 0x93, '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9a, '›' -> 0x9b, 'œ' -> 0x9c,
    'ž' -> 0x9e, 'Ÿ' -> 0x9f).map { case (k, v) => k -> v.toChar }

  /** Map text to WinAnsi (CP1252) bytes; inexpressible chars become '?'. */
  private def winAnsi(s: String): String =
    s.map(c => if (c.toInt < 256) c else winAnsiRev.getOrElse(c, '?'))

  // ------------------------------------------------------------ fonts

  /** How the document's single /F1 font encodes text:
    *  - WinAnsiFont: Type1 Helvetica, WinAnsi literal strings (legacy).
    *  - Type0Font: composite Identity-H font, 2-byte codes in hex strings,
    *    char→code assigned doc-wide, mapped back via a /ToUnicode CMap —
    *    lets any BMP char (Greek, CJK, …) round-trip.
    *  - DifferencesFont: Type1 with /Encoding /Differences remapping codes
    *    128+ to the doc's non-ASCII glyphs by AGL name (uniXXXX when
    *    unnamed), as subset-font writers emit. */
  sealed trait FontFlavor
  case object WinAnsiFont extends FontFlavor
  case object Type0Font extends FontFlavor
  case object DifferencesFont extends FontFlavor

  /** Type0 font with an EMBEDDED CID-keyed /Encoding CMap and NO
    * /ToUnicode (PDF 9.7.5.3): ASCII rides 1-byte codes (cid == code via
    * cidrange + one cidchar), everything else 2-byte codes 0x8000+cp with
    * a range-offset cidrange (cid == codepoint). Exercises variable-length
    * codespaces, cidchar, cidrange, and the parser's Identity-ordering
    * CID→Unicode fallback — the round-3 widening of the CID fence. */
  case object CidCMapFont extends FontFlavor

  /** Doc-wide font plan: the /F1 body (given the number of the first extra
    * object), extra objects (Left = dict body, Right = stream data), and
    * the per-line text-showing token for content streams. */
  private final case class FontPlan(
      fontBody: Int => String,
      extras: Vector[Either[String, Array[Byte]]],
      encLine: String => String)

  private def planFont(pages: Vector[PageSpec], font: FontFlavor): FontPlan = font match {
    case WinAnsiFont =>
      FontPlan(
        _ => "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>",
        Vector.empty,
        line => s"(${esc(winAnsi(line))})")

    case Type0Font =>
      // char → 2-byte code in first-appearance order (code 0 unused)
      val order = scala.collection.mutable.LinkedHashMap.empty[Char, Int]
      for (p <- pages; col <- p.columns; line <- col; c <- line)
        if (!order.contains(c)) order(c) = order.size + 1
      val cmap = {
        val sb = new StringBuilder
        sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
        sb.append("/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n")
        sb.append("1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
        order.grouped(100).foreach { chunk =>
          sb.append(s"${chunk.size} beginbfchar\n")
          chunk.foreach { case (c, code) =>
            sb.append(f"<$code%04X> <${c.toInt}%04X>\n")
          }
          sb.append("endbfchar\n")
        }
        sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
        sb.toString.getBytes(ISO_8859_1)
      }
      val descendant =
        "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth " +
          "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>"
      FontPlan(
        extraBase =>
          "<< /Type /Font /Subtype /Type0 /BaseFont /Synth /Encoding /Identity-H " +
            s"/DescendantFonts [$extraBase 0 R] /ToUnicode ${extraBase + 1} 0 R >>",
        Vector(Left(descendant), Right(cmap)),
        line => line.map(c => f"${order(c)}%04X").mkString("<", "", ">"))

    case CidCMapFont =>
      val cmap = {
        val sb = new StringBuilder
        sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
        sb.append("/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> def\n")
        sb.append("/CMapName /Synth-Embedded def\n/CMapType 1 def\n")
        sb.append("2 begincodespacerange\n<20> <7E>\n<8000> <FFFF>\nendcodespacerange\n")
        sb.append("1 begincidchar\n<7E> 126\nendcidchar\n")
        sb.append("2 begincidrange\n<20> <7D> 32\n<8000> <FFFF> 0\nendcidrange\n")
        sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
        sb.toString.getBytes(ISO_8859_1)
      }
      val descendant =
        "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth " +
          "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>"
      FontPlan(
        extraBase =>
          "<< /Type /Font /Subtype /Type0 /BaseFont /Synth " +
            s"/Encoding $extraBase 0 R /DescendantFonts [${extraBase + 1} 0 R] >>",
        Vector(Right(cmap), Left(descendant)),
        line => line.map { c =>
          if (c >= 0x20 && c <= 0x7e) f"${c.toInt}%02X"
          else if (c < 0x8000) f"${0x8000 + c.toInt}%04X"
          else "3F" // '?' for codepoints the 2-byte space can't carry
        }.mkString("<", "", ">"))

    case DifferencesFont =>
      // non-ASCII chars → codes 128.. in first-appearance order ('?' overflow)
      val order = scala.collection.mutable.LinkedHashMap.empty[Char, Int]
      for (p <- pages; col <- p.columns; line <- col; c <- line)
        if (c > 126 && !order.contains(c) && order.size < 128) order(c) = 128 + order.size
      val diffs =
        if (order.isEmpty) ""
        else order.map { case (c, _) => "/" + Glyphs.name(c) }.mkString("128 ", " ", "")
      FontPlan(
        _ =>
          "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
            s"/Encoding << /BaseEncoding /WinAnsiEncoding /Differences [$diffs] >> >>",
        Vector.empty,
        line => {
          val mapped = line.map(c =>
            if (c <= 126) c else order.get(c).map(_.toChar).getOrElse('?'))
          s"(${esc(mapped)})"
        })
  }

  private def contentStream(spec: PageSpec, encLine: String => String,
      trailerOps: String = ""): Array[Byte] = {
    val sb = new StringBuilder
    val colX = if (spec.columns.length == 2) Vector(margin, pageW / 2 + 18) else Vector(margin)
    spec.columns.zipWithIndex.foreach { case (lines, ci) =>
      val x = colX(math.min(ci, colX.length - 1))
      sb.append(s"BT\n/F1 $fontSize Tf\n$leading TL\n$x ${pageH - margin} Td\n")
      lines.zipWithIndex.foreach { case (line, li) =>
        val t = encLine(line)
        if (li == 0) sb.append(s"$t Tj\n")
        else sb.append(s"T*\n$t Tj\n")
      }
      sb.append("ET\n")
    }
    sb.append(trailerOps)
    val raw = sb.toString.getBytes(ISO_8859_1)
    encodeFilters(raw, spec.effectiveFilters)
  }

  /** Apply a decode-ordered filter chain in encode order. */
  def encodeFilters(raw: Array[Byte], filters: Vector[Filter]): Array[Byte] =
    filters.reverse.foldLeft(raw)((d, f) => encodeOne(f, d))

  def encodeOne(f: Filter, data: Array[Byte]): Array[Byte] = f match {
    case FlateF     => Streams.deflate(data)
    case AsciiHexF  =>
      val sb = new StringBuilder(data.length * 2 + 1)
      data.foreach(b => sb.append(f"${b & 0xff}%02x"))
      sb.append('>')
      sb.toString.getBytes(ISO_8859_1)
    case Ascii85F   => ascii85Encode(data)
    case RunLengthF => runLengthEncode(data)
    case LzwF       => Streams.lzwEncode(data, earlyChange = 1) // the PDF default
  }

  private def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val out = new StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i + 4 <= data.length) {
      val t = ((data(i) & 0xffL) << 24) | ((data(i + 1) & 0xffL) << 16) |
        ((data(i + 2) & 0xffL) << 8) | (data(i + 3) & 0xffL)
      if (t == 0) out.append('z')
      else {
        val cs = new Array[Char](5)
        var v = t
        var k = 4
        while (k >= 0) { cs(k) = ('!' + (v % 85).toInt).toChar; v /= 85; k -= 1 }
        out.appendAll(cs)
      }
      i += 4
    }
    val rem = data.length - i
    if (rem > 0) {
      var t = 0L
      var k = 0
      while (k < 4) { t = (t << 8) | (if (i + k < data.length) data(i + k) & 0xffL else 0L); k += 1 }
      val cs = new Array[Char](5)
      var v = t
      k = 4
      while (k >= 0) { cs(k) = ('!' + (v % 85).toInt).toChar; v /= 85; k -= 1 }
      out.appendAll(cs.take(rem + 1))
    }
    out.append("~>")
    out.toString.getBytes(ISO_8859_1)
  }

  private def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 8)
    var i = 0
    while (i < data.length) {
      // measure run of identical bytes
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 2) {
        out.write(257 - run)
        out.write(data(i))
        i += run
      } else {
        // literal stretch up to the next run of >=3 (or 128 bytes)
        var j = i + 1
        var going = true
        while (going && j < data.length && j - i < 128) {
          if (j + 2 < data.length && data(j) == data(j + 1) && data(j) == data(j + 2)) going = false
          else j += 1
        }
        out.write(j - i - 1)
        out.write(data, i, j - i)
        i = j
      }
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** Cross-reference flavor: classic PDF 1.4 table, or PDF 1.5+ xref
    * STREAM (optionally with the non-stream objects packed into a
    * compressed /ObjStm and the xref data run through the PNG Up
    * predictor) — so the parser's modern-PDF path is testable offline. */
  sealed trait XrefFlavor
  case object Classic extends XrefFlavor
  final case class XrefStream(objStm: Boolean = false, predictor: Boolean = false) extends XrefFlavor

  private def filterEntry(filters: Vector[Filter]): String = filters match {
    case Vector()  => ""
    case Vector(f) => s" /Filter /${f.name}"
    case fs        => fs.map("/" + _.name).mkString(" /Filter [", " ", "]")
  }

  /** Build a complete PDF from page specs. With `formXObject` each page's
    * real content lives in a /Subtype /Form XObject (with its own
    * /Resources and a translation /Matrix) invoked from a stub page stream
    * via `Do` — the indirection many real-world generators emit. */
  def write(pages: Vector[PageSpec], flavor: XrefFlavor = Classic,
      font: FontFlavor = WinAnsiFont, formXObject: Boolean = false,
      encrypt: Option[PdfCrypt.Mode] = None, encryptSeed: Long = 0L): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))

    // object numbering: 1 catalog, 2 pages, 3 font,
    // per page i: obj 4+2i page, obj 5+2i content; font extras appended;
    // with formXObject, one form object per page after the extras; image
    // XObjects last, flattened in (page, image) order
    val nPages = pages.length
    val plan = planFont(pages, font)
    val extraBase = 3 + 2 * nPages + 1
    val formBase = extraBase + plan.extras.length
    val imgBase = formBase + (if (formXObject) nPages else 0)
    val allImages: Vector[(Int, Int, ImageSpec)] =
      pages.zipWithIndex.flatMap { case (p, i) =>
        p.images.zipWithIndex.map { case (im, j) => (i, j, im) }
      }
    val imgObjNum: Map[(Int, Int), Int] =
      allImages.zipWithIndex.map { case ((i, j, _), k) => (i, j) -> (imgBase + k) }.toMap
    val total0 = 3 + 2 * nPages + plan.extras.length +
      (if (formXObject) nPages else 0) + allImages.length
    // one extra direct object for the /Encrypt dictionary (kept out of
    // any ObjStm, as the spec requires)
    val encObjNum = total0 + 1
    val enc: Option[PdfCrypt.WriterSession] = encrypt.map { m =>
      val seed = java.nio.ByteBuffer.allocate(8).putLong(encryptSeed).array()
      PdfCrypt.forWriting(m, seed, encObjNum)
    }
    val total = total0 + (if (enc.isDefined) 1 else 0)
    /** Encrypt one stream payload for object `num` (all streams except
      * the xref stream; our dictionaries carry no strings). */
    def encData(num: Int, data: Array[Byte]): Array[Byte] =
      enc.map(_.encrypt(num, 0, data)).getOrElse(data)
    /** Encrypt literal strings inside a DIRECT object body (spec: every
      * string outside the /Encrypt dict is encrypted with its object's
      * key) — rewritten as hex strings. Our generated bodies only carry
      * escape-free literals like (Adobe), so the paren regex is exact.
      * Objects packed into an ObjStm must NOT pass through here: the
      * containing stream is encrypted as a whole instead. */
    def encBody(num: Int, body: String): String = enc match {
      case None => body
      case Some(e) =>
        "\\(([^)]*)\\)".r.replaceAllIn(body, m =>
          "<" + e.encrypt(num, 0, m.group(1).getBytes(ISO_8859_1))
            .map(x => f"${x & 0xff}%02x").mkString + ">")
    }
    def encTrailerEntries: String = enc match {
      case Some(e) => s" /Encrypt $encObjNum 0 R /ID [<${e.idHex}> <${e.idHex}>]"
      case None    => ""
    }

    val catalogBody = "<< /Type /Catalog /Pages 2 0 R >>"
    val kids = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    val pagesBody =
      s"<< /Type /Pages /Kids [$kids] /Count $nPages /MediaBox [0 0 $pageW $pageH] >>"
    val fontBody = plan.fontBody(extraBase)
    def pageBody(spec: PageSpec, contObj: Int, pageIdx: Int): String = {
      val rot = if (spec.rotate != 0) s" /Rotate ${spec.rotate}" else ""
      val imgEntries = spec.images.indices
        .map(j => s"/Im$j ${imgObjNum((pageIdx, j))} 0 R").mkString(" ")
      val xobjEntries =
        ((if (formXObject) Seq(s"/FX0 ${formBase + pageIdx} 0 R") else Nil) ++
          (if (imgEntries.nonEmpty) Seq(imgEntries) else Nil)).mkString(" ")
      val fontPart = if (formXObject) "" else "/Font << /F1 3 0 R >> "
      val xobjPart = if (xobjEntries.nonEmpty) s"/XObject << $xobjEntries >> " else ""
      s"<< /Type /Page /Parent 2 0 R /Resources << $fontPart$xobjPart>> /Contents $contObj 0 R$rot >>"
    }
    // images painted after the text: unit square scaled to w x h (PDF 8.9.4)
    def imageOps(spec: PageSpec): String =
      spec.images.zipWithIndex.map { case (im, j) =>
        s"q ${im.width} 0 0 ${im.height} $margin ${margin + 8 * j} cm /Im$j Do Q\n"
      }.mkString
    // with forms: the page stream is a stub `Do`; the form holds the text,
    // its own font resources, and a translation matrix (offset exercised)
    def formDictExtra(filters: Vector[Filter]): String =
      s" /Type /XObject /Subtype /Form /Matrix [1 0 0 1 6 -8] /BBox [0 0 $pageW $pageH]" +
        s" /Resources << /Font << /F1 3 0 R >> >>${filterEntry(filters)}"
    def pageData(spec: PageSpec): Array[Byte] =
      if (formXObject) ("q /FX0 Do Q\n" + imageOps(spec)).getBytes(ISO_8859_1)
      else contentStream(spec, plan.encLine, imageOps(spec))
    def imageDictExtra(im: ImageSpec): String = {
      val names = im.outerFilters.map(_.name) ++ im.codec.filterName
      val f = names match {
        case Seq()  => ""
        case Seq(n) => s" /Filter /$n"
        case ns     => ns.map("/" + _).mkString(" /Filter [", " ", "]")
      }
      // CCITT payloads are real G4 (T.6) since the codec landed: declare
      // the decode params a conforming reader needs (K<0 = pure 2-D,
      // Columns/Rows from the dict, BlackIs1 so 1-bits are black — the
      // codec's native sense). Aligned array form when outer filters wrap.
      val ccitt = s"<< /K -1 /Columns ${im.width} /Rows ${im.height} /BlackIs1 true >>"
      val parms = im.codec match {
        case CcittCodec if names.size == 1 => s" /DecodeParms $ccitt"
        case CcittCodec =>
          names.map(n => if (n == "CCITTFaxDecode") ccitt else "null")
            .mkString(" /DecodeParms [", " ", "]")
        case _ => ""
      }
      s" /Type /XObject /Subtype /Image /Width ${im.width} /Height ${im.height}" +
        s" /ColorSpace /${im.colorSpace} /BitsPerComponent ${im.bitsPerComponent}$f$parms"
    }
    def imageData(im: ImageSpec): Array[Byte] = encodeFilters(im.payload, im.outerFilters)

    flavor match {
      case Classic =>
        val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
        w("%PDF-1.4\n")
        def beginObj(n: Int): Unit = { offsets += out.size(); w(s"$n 0 obj\n") }
        beginObj(1); w(encBody(1, catalogBody) + "\nendobj\n")
        beginObj(2); w(encBody(2, pagesBody) + "\nendobj\n")
        beginObj(3); w(encBody(3, fontBody) + "\nendobj\n")
        pages.zipWithIndex.foreach { case (spec, i) =>
          beginObj(4 + 2 * i)
          w(encBody(4 + 2 * i, pageBody(spec, 5 + 2 * i, i)) + "\nendobj\n")
          beginObj(5 + 2 * i)
          val data = encData(5 + 2 * i, pageData(spec))
          val filter = if (formXObject) "" else filterEntry(spec.effectiveFilters)
          w(s"<< /Length ${data.length}$filter >>\nstream\n")
          out.write(data)
          w("\nendstream\nendobj\n")
        }
        plan.extras.zipWithIndex.foreach {
          case (Left(body), k) =>
            beginObj(extraBase + k)
            w(encBody(extraBase + k, body) + "\nendobj\n")
          case (Right(data0), k) =>
            beginObj(extraBase + k)
            val data = encData(extraBase + k, data0)
            w(s"<< /Length ${data.length} >>\nstream\n")
            out.write(data)
            w("\nendstream\nendobj\n")
        }
        if (formXObject) pages.zipWithIndex.foreach { case (spec, i) =>
          beginObj(formBase + i)
          val data = encData(formBase + i, contentStream(spec, plan.encLine))
          w(s"<< /Length ${data.length}${formDictExtra(spec.effectiveFilters)} >>\nstream\n")
          out.write(data)
          w("\nendstream\nendobj\n")
        }
        allImages.zipWithIndex.foreach { case ((_, _, im), k) =>
          beginObj(imgBase + k)
          val data = encData(imgBase + k, imageData(im))
          w(s"<< /Length ${data.length}${imageDictExtra(im)} >>\nstream\n")
          out.write(data)
          w("\nendstream\nendobj\n")
        }
        enc.foreach { e =>
          beginObj(encObjNum)
          w(e.dictBody + "\nendobj\n")
        }
        val xrefPos = out.size()
        w(s"xref\n0 ${total + 1}\n")
        w("0000000000 65535 f \n")
        offsets.foreach(o => w(f"$o%010d 00000 n \n"))
        w(s"trailer\n<< /Size ${total + 1} /Root 1 0 R$encTrailerEntries >>" +
          s"\nstartxref\n$xrefPos\n%%EOF\n")

      case XrefStream(objStm, predictor) =>
        // entry per object: Left(offset) = type 1, Right((stm, idx)) = type 2
        val entries = new Array[Either[Int, (Int, Int)]](total + 3)
        val objStmNum = total + 1
        val xrefNum = total + 2
        w("%PDF-1.5\n")
        def directObj(n: Int, body: String): Unit = {
          entries(n) = Left(out.size())
          // the /Encrypt dictionary's own strings stay raw, per spec
          val b = if (n == encObjNum) body else encBody(n, body)
          w(s"$n 0 obj\n" + b + "\nendobj\n")
        }
        def streamObj(n: Int, dictExtra: String, data0: Array[Byte]): Unit = {
          // every stream is encrypted except the xref stream itself
          val data = if (n == xrefNum) data0 else encData(n, data0)
          entries(n) = Left(out.size())
          w(s"$n 0 obj\n<< /Length ${data.length}$dictExtra >>\nstream\n")
          out.write(data)
          w("\nendstream\nendobj\n")
        }
        enc.foreach(e => directObj(encObjNum, e.dictBody))

        val dictObjs: Vector[(Int, String)] =
          Vector(1 -> catalogBody, 2 -> pagesBody, 3 -> fontBody) ++
            pages.zipWithIndex.map { case (spec, i) => (4 + 2 * i) -> pageBody(spec, 5 + 2 * i, i) }

        if (objStm) {
          // pack all non-stream objects into one compressed object stream
          val bodies = dictObjs.map(_._2)
          val offsetsInStm = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
          val header = dictObjs.zip(offsetsInStm)
            .map { case ((n, _), off) => s"$n $off" }.mkString(" ") + "\n"
          val payload = (header + bodies.mkString("\n") + "\n").getBytes(ISO_8859_1)
          val first = header.length
          dictObjs.zipWithIndex.foreach { case ((n, _), idx) =>
            entries(n) = Right((objStmNum, idx))
          }
          streamObj(objStmNum,
            s" /Type /ObjStm /N ${dictObjs.length} /First $first /Filter /FlateDecode",
            Streams.deflate(payload))
        } else {
          dictObjs.foreach { case (n, body) => directObj(n, body) }
        }

        pages.zipWithIndex.foreach { case (spec, i) =>
          val data = pageData(spec)
          val filter = if (formXObject) "" else filterEntry(spec.effectiveFilters)
          streamObj(5 + 2 * i, filter, data)
        }
        plan.extras.zipWithIndex.foreach {
          case (Left(body), k)  => directObj(extraBase + k, body)
          case (Right(data), k) => streamObj(extraBase + k, "", data)
        }
        if (formXObject) pages.zipWithIndex.foreach { case (spec, i) =>
          val data = contentStream(spec, plan.encLine)
          streamObj(formBase + i, formDictExtra(spec.effectiveFilters), data)
        }
        allImages.zipWithIndex.foreach { case ((_, _, im), k) =>
          streamObj(imgBase + k, imageDictExtra(im), imageData(im))
        }

        // the xref stream object: W [1 4 2], entries 0..xrefNum
        val xrefPos = out.size()
        entries(0) = Right((0, 65535)) // free head, type 0 written specially
        entries(xrefNum) = Left(xrefPos)
        val size = xrefNum + 1
        val rowLen = 7
        val rows = new ByteArrayOutputStream()
        def putRow(t: Int, f2: Int, f3: Int): Unit = {
          rows.write(t)
          rows.write((f2 >>> 24) & 0xff); rows.write((f2 >>> 16) & 0xff)
          rows.write((f2 >>> 8) & 0xff); rows.write(f2 & 0xff)
          rows.write((f3 >>> 8) & 0xff); rows.write(f3 & 0xff)
        }
        (0 until size).foreach { n =>
          if (n == 0) putRow(0, 0, 65535)
          else entries(n) match {
            case Left(off)         => putRow(1, off, 0)
            case Right((stm, idx)) => putRow(2, stm, idx)
            case null              => putRow(0, 0, 0)
          }
        }
        val rawRows = rows.toByteArray
        val (xdata, parms) =
          if (!predictor) (Streams.deflate(rawRows), "")
          else {
            // PNG Up (tag 2) per row — what real-world writers emit
            val nRows = rawRows.length / rowLen
            val enc = new ByteArrayOutputStream()
            val prior = new Array[Byte](rowLen)
            (0 until nRows).foreach { r =>
              enc.write(2)
              var i = 0
              while (i < rowLen) {
                val cur = rawRows(r * rowLen + i)
                enc.write((cur - prior(i)) & 0xff)
                prior(i) = cur
                i += 1
              }
            }
            (Streams.deflate(enc.toByteArray),
              s" /DecodeParms << /Predictor 12 /Columns $rowLen >>")
          }
        streamObj(xrefNum,
          s" /Type /XRef /Size $size /Root 1 0 R$encTrailerEntries" +
            s" /W [1 4 2]$parms /Filter /FlateDecode",
          xdata)
        w(s"startxref\n$xrefPos\n%%EOF\n")
    }
    out.toByteArray
  }
}
