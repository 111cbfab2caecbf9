package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.codec.{Png, Streams, Tiff}
import graft.codec.Streams.Stop

/** From-scratch PDF layout parser (north_star; replaces the reference's
  * MuPDF rasterize + LLM OCR, /root/reference/mvp/utils/pdf_processor.py:24-58
  * and ocr_client.py:14-29).
  *
  * Scope fence (SURVEY.md §7.4): classic xref tables AND PDF 1.5+
  * cross-reference streams (/Type /XRef with /W fields, /Index, /Prev
  * chains, TIFF/PNG predictors incl. the ubiquitous /Predictor 12) with
  * compressed object streams (/Type /ObjStm) — the container formats real
  * Common-Crawl PDFs use; raw / Flate / ASCIIHex / ASCII85 / RunLength /
  * LZW (EarlyChange-aware) stream filters, chainable per /Filter arrays;
  * text operators (BT ET Tf Td TD Tm T* TL Tj TJ ' ") with per-font
  * decoders selected by Tf: simple fonts via WinAnsi/MacRoman base
  * encodings + /Encoding /Differences (AGL-subset + uniXXXX glyph names)
  * + /ToUnicode overrides, composite Type0/Identity-H fonts via 2-byte
  * codes through /ToUnicode CMaps (bfchar/bfrange incl. array form),
  * UTF-16BE BOM text strings; /MediaBox +
  * /Rotate inheritance and normalization (the reference zeroes rotation,
  * pdf_processor.py:76-77 — we normalize coordinates instead, same observable
  * reading order), x-gap column clustering, reading-order sort
  * (page asc, column asc, y desc, x asc). Unsupported features yield an
  * error result — a malformed document never throws out of `parse`.
  */
object PdfParser {

  // ----------------------------------------------------------- object model
  sealed trait PObj
  final case class PNum(v: Double) extends PObj
  final case class PName(v: String) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj
  final case class PRef(num: Int, gen: Int) extends PObj
  final case class PBool(v: Boolean) extends PObj
  case object PNull extends PObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  final case class Fragment(page: Int, x: Double, y: Double, text: String)

  /** One embedded image XObject reference on a page. `format` names how
    * `data` is encoded: for the image codecs the engine deliberately does
    * not decode ("jpeg" = DCTDecode, i.e. a complete JFIF/JPEG file;
    * "jp2" = JPXDecode; "jbig2"; "ccitt"), `data` is the still-encoded
    * codec payload with every non-codec filter (Flate etc.) already
    * stripped — exactly the bytes a downstream vision/OCR stage wants.
    * "raw" means no image codec was present and `data` is fully decoded
    * samples (width*height*components at bitsPerComponent). */
  final case class PdfImage(page: Int, name: String, format: String,
      width: Int, height: Int, colorSpace: String, bitsPerComponent: Int,
      data: Array[Byte])
  final case class PageObj(dict: PDict, mediaBox: (Double, Double, Double, Double), rotate: Int,
      resources: Option[PDict] = None)
  final case class ParseResult(pageTexts: Vector[String]) {
    def text: String = pageTexts.mkString("\n\n")
    def pages: Int = pageTexts.length
  }

  final case class PdfError(msg: String) extends Exception(msg)

  /** True if the payload smells like a PDF (magic prefix, possibly after BOM). */
  def isPdf(payload: Array[Byte]): Boolean = {
    if (payload == null || payload.length < 5) return false
    val head = new String(payload, 0, math.min(16, payload.length), ISO_8859_1)
    head.contains("%PDF-")
  }

  /** Parse a PDF and emit reading-ordered text. Either an error message or
    * the result — never throws. */
  def parse(payload: Array[Byte]): Either[String, ParseResult] =
    try {
      val doc = new Doc(payload)
      val pages = doc.pages()
      if (pages.isEmpty) return Left("pdf_no_pages")
      val pageTexts = pages.zipWithIndex.map { case (pg, i) =>
        renderPage(doc, pg, i)
      }
      Right(ParseResult(pageTexts))
    } catch {
      case PdfError(m)  => Left(m)
      case e: Throwable => Left("pdf_parse_failed:" + e.getClass.getSimpleName)
    }

  /** Header-grade labeling read: page count + first-page MediaBox
    * dimensions in points (rotation-adjusted — a /Rotate 90 page's
    * display box swaps). Parses the xref and page tree only — NO
    * content-stream decoding, so it fits the `mediaInfo` bounded-read
    * contract even for huge documents. Never throws. */
  def pageInfo(payload: Array[Byte]): Either[String, (Int, Int, Int)] =
    try {
      val doc = new Doc(payload)
      val pages = doc.pages()
      if (pages.isEmpty) return Left("pdf_no_pages")
      val pg = pages.head
      val (x0, y0, x1, y1) = pg.mediaBox
      var w = math.round(math.abs(x1 - x0)).toInt
      var h = math.round(math.abs(y1 - y0)).toInt
      if (pg.rotate == 90 || pg.rotate == 270) { val t = w; w = h; h = t }
      Right((pages.length, w, h))
    } catch {
      case PdfError(m)  => Left(m)
      case e: Throwable => Left("pdf_parse_failed:" + e.getClass.getSimpleName)
    }

  /** Image-codec /Filter names → the byte format they leave in the stream.
    * These are the codecs the engine ships UNDECODED (SURVEY §7.4.1: no
    * raster decode on the extraction path) — a DCTDecode stream IS a
    * complete JPEG file, a JPXDecode stream a JP2 codestream, so scanned
    * pages become typed binary rows for a downstream vision/OCR stage
    * instead of dead error rows (the reference reaches the same data by
    * rasterizing via MuPDF, pdf_processor.py:35-44). */
  private val imageCodecs = Map(
    "DCTDecode" -> "jpeg", "DCT" -> "jpeg",
    "JPXDecode" -> "jp2",
    "JBIG2Decode" -> "jbig2",
    "CCITTFaxDecode" -> "ccitt", "CCF" -> "ccitt")

  /** Extract every embedded image XObject referenced from each page's
    * resources (recursing through Form XObjects), in deterministic
    * (page asc, resource name asc) order. A malformed individual image is
    * skipped; a malformed document yields Left — never throws. */
  def extractImages(payload: Array[Byte]): Either[String, Vector[PdfImage]] =
    try {
      val doc = new Doc(payload)
      val pages = doc.pages()
      if (pages.isEmpty) return Left("pdf_no_pages")
      Right(pages.zipWithIndex.flatMap { case (pg, i) => doc.imagesOf(pg, i) })
    } catch {
      case PdfError(m)  => Left(m)
      case e: Throwable => Left("pdf_parse_failed:" + e.getClass.getSimpleName)
    }

  // ----------------------------------------------------------------- lexer
  private final class Lexer(val s: Array[Byte]) {
    var pos = 0
    def n: Int = s.length
    private def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == 0 || b == '\f'
    private def isDelim(b: Byte) =
      b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

    def skipWs(): Unit = {
      var going = true
      while (going && pos < n) {
        if (isWs(s(pos))) pos += 1
        else if (s(pos) == '%') { while (pos < n && s(pos) != '\n' && s(pos) != '\r') pos += 1 }
        else going = false
      }
    }

    def peek: Int = if (pos < n) s(pos) & 0xff else -1
    def at(i: Int): Int = if (i < n) s(i) & 0xff else -1

    def token(): String = { // bare token (name/number/keyword chars)
      skipWs()
      val start = pos
      while (pos < n && !isWs(s(pos)) && !isDelim(s(pos))) pos += 1
      new String(s, start, pos - start, ISO_8859_1)
    }

    /** Parse one object at current position. */
    def obj(): PObj = {
      skipWs()
      if (pos >= n) throw PdfError("pdf_eof")
      val c = s(pos) & 0xff
      c match {
        case '/' =>
          pos += 1
          val start = pos
          while (pos < n && !isWs(s(pos)) && !isDelim(s(pos))) pos += 1
          PName(decodeName(new String(s, start, pos - start, ISO_8859_1)))
        case '(' => PStr(literalString())
        case '<' =>
          if (at(pos + 1) == '<') { dict() }
          else PStr(hexString())
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PObj]
          skipWs()
          while (peek != ']') {
            items += obj()
            skipWs()
            if (pos >= n) throw PdfError("pdf_unterminated_array")
          }
          pos += 1
          PArr(items.result())
        case _ =>
          val t = token()
          if (t.isEmpty) throw PdfError("pdf_bad_token")
          t match {
            case "true"  => PBool(true)
            case "false" => PBool(false)
            case "null"  => PNull
            case _ =>
              // number — maybe "num gen R" reference
              val v = parseNum(t)
              val save = pos
              skipWs()
              val t2start = pos
              val t2 = token()
              if (t2.nonEmpty && t2.forall(_.isDigit)) {
                skipWs()
                val t3 = token()
                if (t3 == "R") PRef(v.toInt, t2.toInt)
                else { pos = save; PNum(v) }
              } else { pos = save; PNum(v) }
          }
      }
    }

    private def parseNum(t: String): Double =
      try t.toDouble catch { case _: NumberFormatException => throw PdfError("pdf_bad_number") }

    private def decodeName(raw: String): String = {
      if (!raw.contains('#')) return raw
      val sb = new StringBuilder
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '#' && i + 2 < raw.length) {
          try { sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    def dict(): PObj = {
      pos += 2 // <<
      val m = Map.newBuilder[String, PObj]
      skipWs()
      while (!(peek == '>' && at(pos + 1) == '>')) {
        if (pos >= n) throw PdfError("pdf_unterminated_dict")
        val k = obj() match {
          case PName(v) => v
          case _        => throw PdfError("pdf_dict_key")
        }
        m += k -> obj()
        skipWs()
      }
      pos += 2
      PDict(m.result())
    }

    private def literalString(): Array[Byte] = {
      pos += 1 // (
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (pos >= n) throw PdfError("pdf_unterminated_string")
        val b = s(pos) & 0xff
        pos += 1
        b match {
          case '\\' =>
            if (pos >= n) throw PdfError("pdf_unterminated_string")
            val e = s(pos) & 0xff
            pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (peek == '\n') pos += 1 // line continuation
              case '\n' => ()
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < n && s(pos) >= '0' && s(pos) <= '7') {
                  v = v * 8 + (s(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other)
            }
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case other => out.write(other)
        }
      }
      out.toByteArray
    }

    private def hexString(): Array[Byte] = {
      pos += 1 // <
      val out = new java.io.ByteArrayOutputStream()
      val digits = new StringBuilder
      while (peek != '>') {
        if (pos >= n) throw PdfError("pdf_unterminated_hex")
        val c = (s(pos) & 0xff).toChar
        if (!c.isWhitespace) digits.append(c)
        pos += 1
      }
      pos += 1
      val d = if (digits.length % 2 == 1) digits.append('0') else digits
      var i = 0
      while (i < d.length) {
        out.write(Integer.parseInt(d.substring(i, i + 2), 16))
        i += 2
      }
      out.toByteArray
    }
  }

  // ------------------------------------------------------------- document
  private final class Doc(bytes: Array[Byte]) {
    private var _trailer: PDict = PDict(Map.empty)
    /** objNum → (containing ObjStm number, index within it) — PDF 1.5+
      * compressed objects (xref stream type-2 entries). */
    private val compressed = mutable.HashMap.empty[Int, (Int, Int)]
    private val offsets: Map[Int, Int] = buildXref()
    private val cache = mutable.HashMap.empty[Int, PObj]
    /** Decoded object streams: stmNum → (payload, (objNum, relOffset) pairs). */
    private val objStmCache = mutable.HashMap.empty[Int, (Array[Byte], Vector[(Int, Int)])]
    /** Standard-security-handler session (trailer /Encrypt, empty
      * password) — None for unencrypted documents. Set ONCE here, after
      * the xref exists but before any content object is parsed; while
      * this runs the var is still None, so the /Encrypt dictionary's own
      * strings (O, U, OE, UE) are read raw, as the spec requires. */
    private var crypt: Option[graft.pdf.PdfCrypt.Session] = None
    initCrypt()
    def trailer: PDict = _trailer

    private def initCrypt(): Unit = _trailer.m.get("Encrypt") match {
      case None => ()
      case Some(encRef) =>
        val encNum = encRef match { case PRef(n, _) => n; case _ => -1 }
        val d = resolve(encRef) match {
          case dd: PDict => dd
          case _         => throw PdfError("pdf_bad_encrypt_dict")
        }
        def nameOf(o: Option[PObj]): String = o.map(resolve) match {
          case Some(PName(n)) => n
          case _              => ""
        }
        if (nameOf(d.m.get("Filter")) != "Standard")
          throw PdfError("pdf_encrypt_unsupported_handler")
        def intOf(k: String, dflt: Int): Int = d.m.get(k).map(resolve) match {
          case Some(PNum(v)) => v.toInt
          case _             => dflt
        }
        def strOf(k: String): Array[Byte] = d.m.get(k).map(resolve) match {
          case Some(PStr(b)) => b
          case _             => Array.emptyByteArray
        }
        val v = intOf("V", 0)
        val em = d.m.get("EncryptMetadata").map(resolve) match {
          case Some(PBool(b)) => b
          case _              => true
        }
        // V4/V5: StmF/StrF name → /CF entry → its /CFM; absent = Identity
        def cfmOf(fKey: String): String = {
          if (v < 4) return ""
          val fname = nameOf(d.m.get(fKey)) match { case "" => "Identity"; case x => x }
          if (fname == "Identity") "Identity"
          else resolve(d.m.getOrElse("CF", PNull)) match {
            case cf: PDict => resolve(cf.m.getOrElse(fname, PNull)) match {
              case e: PDict => nameOf(e.m.get("CFM"))
              case _        => ""
            }
            case _ => ""
          }
        }
        val idFirst = resolve(_trailer.m.getOrElse("ID", PNull)) match {
          case PArr(xs) if xs.nonEmpty => resolve(xs.head) match {
            case PStr(b) => b
            case _       => Array.emptyByteArray
          }
          case _ => Array.emptyByteArray
        }
        crypt = Some(graft.pdf.PdfCrypt.init(v, intOf("R", 2), intOf("Length", 0),
          strOf("O"), strOf("U"), strOf("OE"), strOf("UE"), intOf("P", -1), em,
          cfmOf("StmF"), cfmOf("StrF"), idFirst, encNum))
    }

    /** Recursively decrypt every string inside an indirect object's body
      * (strings inside ObjStm-compressed objects never pass through here
      * — the containing stream was already decrypted, per spec). */
    private def decryptStrings(o: PObj, num: Int, gen: Int): PObj = crypt match {
      case None                                               => o
      case Some(c) if c.encryptObjNum == num || c.strIdentity => o
      case Some(c) =>
        def go(x: PObj): PObj = x match {
          case PStr(b)     => PStr(graft.pdf.PdfCrypt.decryptData(c, num, gen, b, isString = true))
          case PArr(items) => PArr(items.map(go))
          case PDict(m)    => PDict(m.map { case (k, v) => k -> go(v) })
          case other       => other
        }
        go(o)
    }

    private def tail(k: Int): String = {
      val from = math.max(0, bytes.length - k)
      new String(bytes, from, bytes.length - from, ISO_8859_1)
    }

    /** Classic xref tables with /Prev chains; falls back to a raw scan for
      * "N G obj" when the table is missing or damaged. */
    private def buildXref(): Map[Int, Int] = {
      val out = mutable.HashMap.empty[Int, Int]
      try {
        val t = tail(2048)
        val sxi = t.lastIndexOf("startxref")
        if (sxi < 0) throw PdfError("pdf_no_startxref")
        val after = t.substring(sxi + "startxref".length).trim
        val off = after.takeWhile(_.isDigit).toInt
        var xrefOff = off
        var guard = 0
        while (xrefOff >= 0 && guard < 64) {
          guard += 1
          val lx = new Lexer(bytes)
          lx.pos = xrefOff
          lx.skipWs()
          val save0 = lx.pos
          val kw = lx.token()
          if (kw != "xref") {
            // PDF 1.5+ cross-reference STREAM: "N G obj << /Type /XRef ... >> stream"
            lx.pos = save0
            xrefOff = readXrefStream(lx, out)
          } else {
          var more = true
          while (more) {
            lx.skipWs()
            val save = lx.pos
            val a = lx.token()
            if (a == "trailer") { more = false; lx.pos = save }
            else {
              val start = a.toInt
              val count = lx.token().toInt
              var i = 0
              while (i < count) {
                lx.skipWs()
                val o = lx.token().toInt
                val g = lx.token().toInt
                val ty = lx.token()
                // newest-wins must hold ACROSS entry types: objAt consults
                // `offsets` before `compressed`, so a stale type-1 offset
                // from an older /Prev section would shadow a newer type-2
                // (ObjStm) entry unless guarded here too.
                if (ty == "n" && !out.contains(start + i) && !compressed.contains(start + i))
                  out(start + i) = o
                i += 1
              }
            }
          }
          lx.skipWs()
          val tk = lx.token() // "trailer"
          val td = lx.obj() match { case d: PDict => d; case _ => throw PdfError("pdf_bad_trailer") }
          if (_trailer.m.isEmpty) _trailer = td
          xrefOff = td.m.get("Prev") match {
            case Some(PNum(v)) => v.toInt
            case _             => -1
          }
          }
        }
      } catch {
        case _: Throwable =>
          // damaged / unsupported xref: brute scan for object headers
          out.clear()
          val s = new String(bytes, ISO_8859_1)
          val re = "(?m)(\\d+)\\s+(\\d+)\\s+obj".r
          re.findAllMatchIn(s).foreach { m =>
            out(m.group(1).toInt) = m.start
          }
          if (_trailer.m.isEmpty) {
            val ti = s.lastIndexOf("trailer")
            if (ti >= 0) {
              try {
                val lx = new Lexer(bytes); lx.pos = ti + 7
                _trailer = lx.obj() match { case d: PDict => d; case _ => PDict(Map.empty) }
              } catch { case _: Throwable => () }
            }
          }
      }
      if (out.isEmpty) throw PdfError("pdf_no_objects")
      out.toMap
    }

    /** Parse one cross-reference stream (PDF 1.5+) at the lexer position;
      * fill `out`/`compressed` (first entry wins — /Prev chains go newest
      * to oldest) and adopt its dict as the trailer. Returns /Prev or -1. */
    private def readXrefStream(lx: Lexer, out: mutable.HashMap[Int, Int]): Int = {
      lx.token(); lx.token() // obj num, gen
      if (lx.token() != "obj") throw PdfError("pdf_bad_xref_stream")
      val dict = lx.obj() match {
        case d: PDict => d
        case _        => throw PdfError("pdf_bad_xref_stream")
      }
      lx.skipWs()
      if (lx.token() != "stream") throw PdfError("pdf_bad_xref_stream")
      var p = lx.pos
      if (lx.at(p) == '\r') p += 1
      if (lx.at(p) == '\n') p += 1
      // /Length may be an indirect ref, unreadable before the xref exists:
      // fall back to locating "endstream"
      val len = dict.m.get("Length") match {
        case Some(PNum(v)) => v.toInt
        case _             => endstreamLen(p)
      }
      if (p + len > bytes.length) throw PdfError("pdf_stream_truncated")
      val data = decodeStream(PStream(dict, java.util.Arrays.copyOfRange(bytes, p, p + len)))

      def num(o: PObj): Int = o match {
        case PNum(v) => v.toInt
        case _       => throw PdfError("pdf_bad_xref_stream")
      }
      val w = dict.m.getOrElse("W", throw PdfError("pdf_bad_xref_stream")) match {
        case PArr(xs) => xs.map(num)
        case _        => throw PdfError("pdf_bad_xref_stream")
      }
      val size = num(dict.m.getOrElse("Size", throw PdfError("pdf_bad_xref_stream")))
      val index: Vector[(Int, Int)] = dict.m.get("Index") match {
        case Some(PArr(xs)) => xs.map(num).grouped(2).collect { case Vector(a, b) => (a, b) }.toVector
        case _              => Vector((0, size))
      }
      val rowLen = w.sum
      var pos = 0
      def field(width: Int): Long = {
        var v = 0L
        var k = 0
        while (k < width) { v = (v << 8) | (data(pos) & 0xff); pos += 1; k += 1 }
        v
      }
      index.foreach { case (start, count) =>
        var i = 0
        while (i < count && pos + rowLen <= data.length) {
          val objNum = start + i
          val typ = if (w(0) == 0) 1L else field(w(0))
          val f2 = if (w.length > 1) field(w(1)) else 0L
          val f3 = if (w.length > 2) field(w(2)) else 0L
          typ match {
            // same cross-type newest-wins guard as the classic-table case
            case 1 => if (!out.contains(objNum) && !compressed.contains(objNum))
              out(objNum) = f2.toInt
            case 2 => if (!out.contains(objNum) && !compressed.contains(objNum))
              compressed(objNum) = (f2.toInt, f3.toInt)
            case _ => () // type 0 (free) and unknown types: skip
          }
          i += 1
        }
      }
      if (_trailer.m.isEmpty) _trailer = dict
      dict.m.get("Prev") match {
        case Some(PNum(v)) => v.toInt
        case _             => -1
      }
    }

    /** Length of a stream when /Length is unresolvable during xref
      * bootstrap: distance to the "endstream" keyword, trailing EOL trimmed. */
    private def endstreamLen(from: Int): Int = {
      val needle = "endstream".getBytes(ISO_8859_1)
      var i = from
      while (i + needle.length <= bytes.length) {
        var k = 0
        while (k < needle.length && bytes(i + k) == needle(k)) k += 1
        if (k == needle.length) {
          var end = i
          if (end > from && bytes(end - 1) == '\n') end -= 1
          if (end > from && bytes(end - 1) == '\r') end -= 1
          return end - from
        }
        i += 1
      }
      throw PdfError("pdf_stream_truncated")
    }

    def resolve(o: PObj): PObj = o match {
      case PRef(num, _) => resolve(objAt(num))
      case other        => other
    }

    def objAt(num: Int): PObj = cache.getOrElseUpdate(num, {
      offsets.get(num) match {
        case Some(off) => parseAt(off)
        case None => compressed.get(num) match {
          case Some((stmNum, idx)) => fromObjStm(stmNum, idx, num)
          case None                => throw PdfError(s"pdf_missing_obj_$num")
        }
      }
    })

    /** Load an object out of a /Type /ObjStm compressed object stream. */
    private def fromObjStm(stmNum: Int, idx: Int, wantNum: Int): PObj = {
      val (payload, pairs) = objStmCache.getOrElseUpdate(stmNum, {
        val st = objAt(stmNum) match {
          case s: PStream => s
          case _          => throw PdfError("pdf_bad_objstm")
        }
        val data = decodeStream(st)
        def num(k: String): Int = resolve(st.dict.m.getOrElse(k, throw PdfError("pdf_bad_objstm"))) match {
          case PNum(v) => v.toInt
          case _       => throw PdfError("pdf_bad_objstm")
        }
        val n = num("N")
        val first = num("First")
        val hlx = new Lexer(data)
        val ps = (0 until n).map { _ =>
          hlx.skipWs()
          val objNum = hlx.token().toInt
          val rel = hlx.token().toInt
          (objNum, first + rel)
        }.toVector
        (data, ps)
      })
      val off = pairs.find(_._1 == wantNum)
        .orElse(pairs.lift(idx))
        .getOrElse(throw PdfError("pdf_objstm_missing"))._2
      val lx = new Lexer(payload)
      lx.pos = off
      lx.skipWs()
      lx.obj()
    }

    private def parseAt(off: Int): PObj = {
      val lx = new Lexer(bytes)
      lx.pos = off
      lx.skipWs()
      val objNum = try lx.token().toInt catch {
        case _: NumberFormatException => throw PdfError("pdf_bad_obj_header")
      }
      val genNum = try lx.token().toInt catch {
        case _: NumberFormatException => throw PdfError("pdf_bad_obj_header")
      }
      val kw = lx.token()
      if (kw != "obj") throw PdfError("pdf_bad_obj_header")
      val body = lx.obj()
      lx.skipWs()
      val save = lx.pos
      val nxt = lx.token()
      if (nxt == "stream") {
        // after 'stream' keyword: CRLF or LF then raw data of /Length bytes
        var p = lx.pos
        if (lx.at(p) == '\r') p += 1
        if (lx.at(p) == '\n') p += 1
        val d = body match { case d: PDict => d; case _ => throw PdfError("pdf_stream_no_dict") }
        val len = resolve(d.m.getOrElse("Length", throw PdfError("pdf_stream_no_length"))) match {
          case PNum(v) => v.toInt
          case _       => throw PdfError("pdf_bad_length")
        }
        if (p + len > bytes.length) throw PdfError("pdf_stream_truncated")
        val raw = java.util.Arrays.copyOfRange(bytes, p, p + len)
        // stream decryption: never the xref stream, the /Encrypt object,
        // or (when /EncryptMetadata false) the XMP metadata stream
        val typ = d.m.get("Type") match { case Some(PName(t)) => t; case _ => "" }
        val dec = crypt match {
          case Some(c) if c.encryptObjNum != objNum && typ != "XRef" &&
              !(typ == "Metadata" && !c.encryptMetadata) =>
            graft.pdf.PdfCrypt.decryptData(c, objNum, genNum, raw, isString = false)
          case _ => raw
        }
        PStream(decryptStrings(d, objNum, genNum) match {
          case dd: PDict => dd
          case _         => d
        }, dec)
      } else { lx.pos = save; decryptStrings(body, objNum, genNum) }
    }

    /** A stream's /Filter chain in decode order, each with its
      * /DecodeParms (or /DP) entry aligned per the spec's array form. */
    def filterChain(st: PStream): Vector[(String, Option[PDict])] = {
      val filters: Vector[String] = resolve(st.dict.m.getOrElse("Filter", PNull)) match {
        case PNull        => Vector.empty
        case PName(f)     => Vector(f)
        case PArr(items)  => items.map(i => resolve(i) match {
          case PName(f) => f
          case _        => throw PdfError("pdf_bad_filter")
        })
        case _            => throw PdfError("pdf_bad_filter")
      }
      val parms: Vector[Option[PDict]] = {
        val raw = resolve(st.dict.m.getOrElse("DecodeParms", st.dict.m.getOrElse("DP", PNull)))
        raw match {
          case d: PDict    => Vector(Some(d)) ++ Vector.fill(math.max(filters.length - 1, 0))(None)
          case PArr(items) => items.map(i => resolve(i) match {
            case d: PDict => Some(d)
            case _        => None
          }) ++ Vector.fill(math.max(filters.length - items.length, 0))(None)
          case _           => Vector.fill(filters.length)(None)
        }
      }
      filters.zip(parms)
    }

    /** Decode a stream through its filter chain (raw / Flate / ASCIIHex),
      * honoring per-filter /DecodeParms predictors (TIFF + PNG row
      * filters — xref streams are almost always Flate + /Predictor 12). */
    def decodeStream(st: PStream): Array[Byte] = applyFilters(st.raw, filterChain(st))

    /** Run a (possibly partial) decode-ordered filter chain. */
    def applyFilters(raw: Array[Byte], chain: Vector[(String, Option[PDict])]): Array[Byte] =
      chain.foldLeft(raw) { case (data, (f, parm)) =>
        val decoded = f match {
          case "FlateDecode" | "Fl"     => inflate(data)
          case "ASCIIHexDecode" | "AHx" => asciiHex(data)
          case "ASCII85Decode" | "A85"  => ascii85(data)
          case "RunLengthDecode" | "RL" => runLength(data)
          case "LZWDecode" | "LZW" =>
            val early = parm.flatMap(_.m.get("EarlyChange")).map(resolve) match {
              case Some(PNum(v)) => v.toInt
              case _             => 1 // PDF default
            }
            lzw(data, early)
          case other => throw PdfError("pdf_filter_unsupported:" + other)
        }
        parm match {
          case Some(d) =>
            def intOf(k: String, dflt: Int) = resolve(d.m.getOrElse(k, PNull)) match {
              case PNum(v) => v.toInt
              case _       => dflt
            }
            unpredict(decoded, intOf("Predictor", 1), intOf("Columns", 1),
              intOf("Colors", 1), intOf("BitsPerComponent", 8))
          case None => decoded
        }
      }

    /** Walk /Root → /Pages → /Kids with /MediaBox + /Rotate inheritance. */
    def pages(): Vector[PageObj] = {
      val root = resolve(trailer.m.getOrElse("Root", throw PdfError("pdf_no_root"))) match {
        case d: PDict => d
        case _        => throw PdfError("pdf_bad_root")
      }
      val top = resolve(root.m.getOrElse("Pages", throw PdfError("pdf_no_pages_dict"))) match {
        case d: PDict => d
        case _        => throw PdfError("pdf_bad_pages")
      }
      val out = Vector.newBuilder[PageObj]
      def mb(d: PDict, inherited: Option[(Double, Double, Double, Double)]) =
        resolve(d.m.getOrElse("MediaBox", PNull)) match {
          case PArr(Vector(a, b, c, dd)) =>
            def num(o: PObj) = resolve(o) match { case PNum(v) => v; case _ => 0.0 }
            Some((num(a), num(b), num(c), num(dd)))
          case _ => inherited
        }
      def rot(d: PDict, inherited: Int) = resolve(d.m.getOrElse("Rotate", PNull)) match {
        case PNum(v) => (((v.toInt % 360) + 360) % 360)
        case _       => inherited
      }
      def res(d: PDict, inherited: Option[PDict]) = resolve(d.m.getOrElse("Resources", PNull)) match {
        case r: PDict => Some(r)
        case _        => inherited
      }
      def walk(node: PDict, inheritedMb: Option[(Double, Double, Double, Double)], inheritedRot: Int,
          inheritedRes: Option[PDict], depth: Int): Unit = {
        if (depth > 32) throw PdfError("pdf_pages_cycle")
        val curMb = mb(node, inheritedMb)
        val curRot = rot(node, inheritedRot)
        val curRes = res(node, inheritedRes)
        resolve(node.m.getOrElse("Type", PNull)) match {
          case PName("Page") =>
            out += PageObj(node, curMb.getOrElse((0.0, 0.0, 612.0, 792.0)), curRot, curRes)
          case _ =>
            resolve(node.m.getOrElse("Kids", PNull)) match {
              case PArr(kids) => kids.foreach { k =>
                resolve(k) match {
                  case d: PDict => walk(d, curMb, curRot, curRes, depth + 1)
                  case _        => throw PdfError("pdf_bad_kid")
                }
              }
              case _ => throw PdfError("pdf_no_kids")
            }
        }
      }
      walk(top, None, 0, None, 0)
      out.result()
    }

    /** Concatenated, decoded content streams of a page. */
    def pageContent(pg: PageObj): Array[Byte] = {
      def streamsOf(o: PObj): Vector[Array[Byte]] = resolve(o) match {
        case st: PStream => Vector(decodeStream(st))
        case PArr(items) => items.flatMap(streamsOf)
        case PNull       => Vector.empty
        case _           => throw PdfError("pdf_bad_contents")
      }
      val parts = streamsOf(pg.dict.m.getOrElse("Contents", PNull))
      if (parts.isEmpty) Array.emptyByteArray
      else if (parts.length == 1) parts.head
      else {
        val out = new java.io.ByteArrayOutputStream()
        parts.foreach { p => out.write(p); out.write('\n') }
        out.toByteArray
      }
    }

    // ---------------------------------------------------------- images

    /** All image XObjects reachable from a page's /Resources /XObject
      * dict, recursing through Form XObjects (depth-limited). Name order
      * within a dict is sorted for determinism; a single broken image is
      * skipped rather than failing the page. */
    def imagesOf(pg: PageObj, pageIdx: Int): Vector[PdfImage] = {
      val out = Vector.newBuilder[PdfImage]
      def walkRes(res: Option[PDict], depth: Int): Unit = {
        if (depth > 8) return
        res.map(r => resolve(r.m.getOrElse("XObject", PNull))) match {
          case Some(xd: PDict) =>
            xd.m.toVector.sortBy(_._1).foreach { case (name, ref) =>
              try resolve(ref) match {
                case st: PStream =>
                  resolve(st.dict.m.getOrElse("Subtype", PNull)) match {
                    case PName("Image") => out += decodeImage(name, st, pageIdx)
                    case PName("Form") =>
                      walkRes(resolve(st.dict.m.getOrElse("Resources", PNull)) match {
                        case d: PDict => Some(d)
                        case _        => None
                      }, depth + 1)
                    case _ => ()
                  }
                case _ => ()
              } catch { case _: Throwable => () } // lenient per image
            }
          case _ => ()
        }
      }
      walkRes(pg.resources, 0)
      out.result()
    }

    /** Decode one image stream: strip every non-codec filter, stop at the
      * first image codec (DCT/JPX/JBIG2/CCITT) and label the format. */
    private def decodeImage(name: String, st: PStream, pageIdx: Int): PdfImage = {
      def intOf(k: String, dflt: Int) = resolve(st.dict.m.getOrElse(k, PNull)) match {
        case PNum(v) => v.toInt
        case _       => dflt
      }
      val mask = resolve(st.dict.m.getOrElse("ImageMask", PNull)) == PBool(true)
      val cs = resolve(st.dict.m.getOrElse("ColorSpace", PNull)) match {
        case PName(n)                      => n
        case PArr(items) if items.nonEmpty =>
          resolve(items.head) match { case PName(n) => n; case _ => "unknown" }
        case _                             => if (mask) "ImageMask" else "unknown"
      }
      val chain = filterChain(st)
      val codecIdx = chain.indexWhere { case (f, _) => imageCodecs.contains(f) }
      val (pre, fmt) =
        if (codecIdx < 0) (chain, "raw")
        else (chain.take(codecIdx), imageCodecs(chain(codecIdx)._1))
      PdfImage(pageIdx, name, fmt, intOf("Width", 0), intOf("Height", 0), cs,
        intOf("BitsPerComponent", if (mask) 1 else 8), applyFilters(st.raw, pre))
    }

    // ---------------------------------------------------------- fonts
    private val fontCache = mutable.HashMap.empty[Int, FontDec]

    /** Resource-name → decoder map for a page's /Resources /Font dict. */
    def fontsOf(pg: PageObj): Map[String, FontDec] = fontsOfRes(pg.resources)

    def fontsOfRes(resources: Option[PDict]): Map[String, FontDec] =
      resources.map(r => resolve(r.m.getOrElse("Font", PNull))) match {
        case Some(fd: PDict) =>
          fd.m.map { case (name, ref) =>
            val dec = ref match {
              case PRef(num, _) => fontCache.getOrElseUpdate(num, buildFont(ref))
              case _            => buildFont(ref)
            }
            name -> dec
          }
        case _ => Map.empty
      }

    /** Build a decoder from a font dict: Type0/Identity-H fonts read 2-byte
      * codes through /ToUnicode; simple fonts get a 256-entry table from the
      * base /Encoding, /Differences remaps, and /ToUnicode overrides.
      * Lenient throughout — a broken font never fails the page. */
    private def buildFont(ref: PObj): FontDec =
      try {
        val fd = resolve(ref) match {
          case d: PDict => d
          case _        => return defaultFont
        }
        val toUni: Map[Int, String] = resolve(fd.m.getOrElse("ToUnicode", PNull)) match {
          case st: PStream =>
            try parseCMap(decodeStream(st)) catch { case _: Throwable => Map.empty }
          case _ => Map.empty
        }
        resolve(fd.m.getOrElse("Subtype", PNull)) match {
          case PName("Type0") =>
            // CID-keyed embedded /Encoding CMap (the round-3 widened
            // notch): codespaces drive variable-length code parsing and
            // cidchar/cidrange map code→CID. Predefined Identity-H/V
            // names keep the fixed 2-byte code==CID reading.
            val (spaces, cidChars, cidRanges) =
              resolve(fd.m.getOrElse("Encoding", PNull)) match {
                case st: PStream =>
                  try parseCidCMap(decodeStream(st))
                  catch { case _: Throwable =>
                    (Vector.empty[(Int, Int, Int)], Map.empty[Int, Int],
                      Vector.empty[(Int, Int, Int)]) }
                case _ =>
                  (Vector.empty[(Int, Int, Int)], Map.empty[Int, Int],
                    Vector.empty[(Int, Int, Int)])
              }
            // CID-as-codepoint fallback only when no /ToUnicode AND the
            // descendant declares the Identity ordering (generated PDFs
            // there commonly index CIDs by Unicode); any other ordering
            // (Japan1, GB1, ...) stays an honest replacement char — a
            // registry-ordered CID is a glyph-collection index, not a
            // codepoint, and faking it would corrupt extraction silently
            val identityOrdering =
              resolve(fd.m.getOrElse("DescendantFonts", PNull)) match {
                case PArr(ds) if ds.nonEmpty => resolve(ds.head) match {
                  case d: PDict => resolve(d.m.getOrElse("CIDSystemInfo", PNull)) match {
                    case csi: PDict => resolve(csi.m.getOrElse("Ordering", PNull)) match {
                      case PStr(b) => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1) == "Identity"
                      case _       => false
                    }
                    case _ => false
                  }
                  case _ => false
                }
                case _ => false
              }
            FontDec(twoByte = true, toUni, null, spaces, cidChars, cidRanges,
              cidAsUnicode = toUni.isEmpty && identityOrdering)
          case _ =>
            val base: Array[String] = resolve(fd.m.getOrElse("Encoding", PNull)) match {
              case PName("MacRomanEncoding") => macRomanTable.clone()
              case encDict: PDict =>
                val b = resolve(encDict.m.getOrElse("BaseEncoding", PNull)) match {
                  case PName("MacRomanEncoding") => macRomanTable.clone()
                  case _                         => winAnsiTable.clone()
                }
                resolve(encDict.m.getOrElse("Differences", PNull)) match {
                  case PArr(items) =>
                    var code = 0
                    items.foreach {
                      case PNum(v)  => code = v.toInt
                      case PName(g) =>
                        if (code >= 0 && code < 256)
                          b(code) = Glyphs.char(g).map(_.toString).getOrElse("�")
                        code += 1
                      case _ => ()
                    }
                  case _ => ()
                }
                b
              case _ => winAnsiTable.clone() // WinAnsi/Standard + unknown names
            }
            if (toUni.nonEmpty)
              toUni.foreach { case (c, s) => if (c >= 0 && c < 256) base(c) = s }
            FontDec(twoByte = false, toUni, base)
        }
      } catch { case _: Throwable => defaultFont }
  }

  // ------------------------------------------------- stream codecs

  /** Reverse a TIFF (2) or PNG (10-15) predictor through the codecs' own
    * kernels. A trailing partial row stays as it is under TIFF's and is
    * dropped under PNG's. */
  private[graft] def unpredict(data: Array[Byte], predictor: Int, columns: Int,
      colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (rowLen <= 0) throw PdfError("pdf_predictor_unsupported")
    if (predictor == 2) { // TIFF horizontal differencing (8-bit only)
      if (bpc != 8) throw PdfError("pdf_predictor_unsupported")
      val out = data.clone()
      Tiff.undifference(out, out.length / rowLen, rowLen, bpp)
      out
    } else // PNG row filters: each row = 1 tag byte + rowLen data bytes
      Png.defilter(data, 0, data.length / (rowLen + 1), rowLen, bpp)
        .fold(_ => throw PdfError("pdf_predictor_unsupported"), identity)
  }

  /** FlateDecode through the one Flate kernel, capped at the per-stream
    * ceiling ([[Streams.MaxDecodedBytes]]): a corrupt or hostile stream
    * (zip bomb) must error-row the document, not OOM an executor shared by
    * thousands of other documents. */
  private[graft] def inflate(data: Array[Byte]): Array[Byte] = Streams.inflate(data) match {
    case Right(out) => out
    case Left(Stop.TooLarge) => throw PdfError("pdf_stream_too_large")
    case Left(Stop.Corrupt(_)) => throw PdfError("pdf_flate_corrupt")
    case Left(_) => throw PdfError("pdf_flate_truncated")
  }

  private[graft] def asciiHex(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val digits = new StringBuilder
    var i = 0
    var stop = false
    while (i < data.length && !stop) {
      val c = (data(i) & 0xff).toChar
      if (c == '>') stop = true
      else if (!c.isWhitespace) digits.append(c)
      i += 1
    }
    val d = if (digits.length % 2 == 1) digits.append('0') else digits
    var j = 0
    while (j < d.length) { out.write(Integer.parseInt(d.substring(j, j + 2), 16)); j += 2 }
    out.toByteArray
  }

  /** ASCII85 (base-85): 5 chars → 4 bytes; 'z' = four zero bytes; a
    * partial group of n chars yields n-1 bytes; "~>" terminates. */
  private[graft] def ascii85(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    var tuple = 0L
    var count = 0
    var i = 0
    var stop = false
    def flush(nBytes: Int, chars: Int): Unit = {
      // pad missing chars with 'u' (84) per the spec, then drop pad bytes
      var t = tuple
      var k = chars
      while (k < 5) { t = t * 85 + 84; k += 1 }
      var shift = 24
      var b = 0
      while (b < nBytes) { out.write(((t >>> shift) & 0xff).toInt); shift -= 8; b += 1 }
    }
    while (i < data.length && !stop) {
      val c = (data(i) & 0xff).toChar
      if (c == '~') stop = true
      else if (c == 'z' && count == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!')
        count += 1
        if (count == 5) { flush(4, 5); tuple = 0; count = 0 }
      } else if (!c.isWhitespace) throw PdfError("pdf_ascii85_bad_char")
      i += 1
    }
    if (count == 1) throw PdfError("pdf_ascii85_truncated")
    if (count > 1) flush(count - 1, count)
    out.toByteArray
  }

  /** RunLengthDecode: tag L in 0..127 copies L+1 literal bytes; L in
    * 129..255 repeats the next byte 257-L times; 128 = EOD. */
  private[graft] def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    var stop = false
    while (i < data.length && !stop) {
      val tag = data(i) & 0xff
      i += 1
      if (tag == 128) stop = true
      else if (tag < 128) {
        val n = tag + 1
        if (i + n > data.length) throw PdfError("pdf_runlength_truncated")
        out.write(data, i, n)
        i += n
      } else {
        if (i >= data.length) throw PdfError("pdf_runlength_truncated")
        val b = data(i) & 0xff
        i += 1
        var k = 257 - tag
        while (k > 0) { out.write(b); k -= 1 }
      }
      if (out.size() > Streams.MaxDecodedBytes) throw PdfError("pdf_stream_too_large")
    }
    out.toByteArray
  }

  /** LZWDecode through the one LZW kernel (TIFF-style, MSB-first, 9→12-bit
    * codes, clear=256, EOD=257; EarlyChange=1 is the PDF default), capped
    * at the per-stream ceiling. A stream that ends without EOD keeps what
    * it decoded. */
  private[graft] def lzw(data: Array[Byte], earlyChange: Int): Array[Byte] =
    Streams.lzw(data, earlyChange, Streams.MaxDecodedBytes) match {
      case Right(out) => out
      case Left(Stop.Truncated(out)) => out
      case Left(Stop.TooLarge) => throw PdfError("pdf_stream_too_large")
      case Left(_) => throw PdfError("pdf_lzw_bad_code")
    }

  // --------------------------------------------------------- text machine

  /** WinAnsi (CP1252) high-range mappings that differ from Latin-1. */
  private val winAnsiHigh: Map[Int, Char] = Map(
    0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„', 0x85 -> '…',
    0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ', 0x89 -> '‰', 0x8a -> 'Š',
    0x8b -> '‹', 0x8c -> 'Œ', 0x8e -> 'Ž', 0x91 -> '‘', 0x92 -> '’',
    0x93 -> '“', 0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
    0x98 -> '˜', 0x99 -> '™', 0x9a -> 'š', 0x9b -> '›', 0x9c -> 'œ',
    0x9e -> 'ž', 0x9f -> 'Ÿ')

  /** MacRomanEncoding high range (0x80-0xFF), PDF 1.7 Annex D. */
  private val macRomanHigh: Array[Char] =
    ("ÄÅÇÉÑÖÜáàâäãåçéè" + "êëíìîïñóòôöõúùûü" +
     "†°¢£§•¶ß®©™´¨≠ÆØ" + "∞±≤≥¥µ∂∑∏π∫ªºΩæø" +
     "¿¡¬√ƒ≈∆«»… ÀÃÕŒœ" + "–—“”‘’÷◊ÿŸ⁄€‹›ﬁﬂ" +
     "‡·‚„‰ÂÊÁËÈÍÎÏÌÓÔ" + "ÒÚÛÙıˆ˜¯˘˙˚¸˝˛ˇ").toCharArray

  private val winAnsiTable: Array[String] =
    Array.tabulate(256)(v => winAnsiHigh.getOrElse(v, v.toChar).toString)
  private val macRomanTable: Array[String] =
    Array.tabulate(256)(v => if (v < 0x80) v.toChar.toString else macRomanHigh(v - 0x80).toString)

  /** Per-font byte→text decoder, built once per font object from
    * /Subtype, /Encoding (incl. /Differences) and /ToUnicode. */
  private[graft] final case class FontDec(
      twoByte: Boolean,
      toUni: Map[Int, String],
      simple: Array[String],
      // Type0 extras from a CID-keyed /Encoding CMap stream (empty for
      // the predefined Identity-H/V names, which are code==CID, 2-byte):
      spaces: Vector[(Int, Int, Int)] = Vector.empty,     // (byteLen, lo, hi)
      cidChars: Map[Int, Int] = Map.empty,                // code -> CID
      cidRanges: Vector[(Int, Int, Int)] = Vector.empty,  // (lo, hi, startCid)
      // /ToUnicode absent + descendant /CIDSystemInfo /Ordering (Identity):
      // best-effort CID-as-codepoint fallback (generated PDFs under the
      // Identity ordering commonly index CIDs by Unicode; previously every
      // such code decoded to the replacement char)
      cidAsUnicode: Boolean = false) {

    private def cidOf(code: Int): Int =
      cidChars.getOrElse(code,
        cidRanges.collectFirst {
          case (lo, hi, st) if code >= lo && code <= hi => st + code - lo
        }.getOrElse(code))

    private def unicodeOf(code: Int): String =
      toUni.getOrElse(code, {
        if (cidAsUnicode) {
          val cid = cidOf(code)
          if (cid >= 0x20 && cid <= 0x10FFFF && !(cid >= 0xD800 && cid <= 0xDFFF))
            new String(Character.toChars(cid))
          else "�"
        } else "�"
      })

    def decode(bytes: Array[Byte]): String = {
      // PDF text strings may themselves carry a UTF-16BE BOM
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
        return new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
      val sb = new StringBuilder(bytes.length)
      if (twoByte) {
        var i = 0
        if (spaces.isEmpty) {
          // no embedded CMap: fixed 2-byte codes (Identity-H/V)
          while (i + 1 < bytes.length) {
            val code = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
            sb.append(unicodeOf(code))
            i += 2
          }
        } else {
          // variable-length codes: match the codespace ranges shortest
          // first (PDF 9.7.6.2 matches byte-prefix-wise; well-formed
          // CMaps keep the first byte of each length class disjoint, so
          // value-in-range per candidate length is equivalent here)
          val minLen = spaces.map(_._1).min
          val maxLen = spaces.map(_._1).max
          def valueAt(pos: Int, len: Int): Int = {
            var v = 0; var k = 0
            while (k < len) { v = (v << 8) | (bytes(pos + k) & 0xff); k += 1 }
            v
          }
          while (i < bytes.length) {
            var code = -1
            var len = 0
            var l = minLen
            while (len == 0 && l <= maxLen) {
              if (i + l <= bytes.length) {
                val v = valueAt(i, l)
                if (spaces.exists(s => s._1 == l && v >= s._2 && v <= s._3)) {
                  code = v; len = l
                }
              }
              l += 1
            }
            if (len == 0) { // outside every codespace: consume minLen bytes
              val l2 = math.min(minLen, bytes.length - i)
              code = valueAt(i, l2); len = l2
            }
            sb.append(unicodeOf(code))
            i += len
          }
        }
      } else {
        var i = 0
        while (i < bytes.length) { sb.append(simple(bytes(i) & 0xff)); i += 1 }
      }
      sb.toString
    }
  }

  private[graft] val defaultFont: FontDec = FontDec(twoByte = false, Map.empty, winAnsiTable)

  /** The token walk both CMap parsers share. Operands outside a section
    * are skipped; each `begin<name>` of `sections` reads entries of
    * `arity` objects up to its `end<name>`, handing each to `entry`, which
    * returns false on an entry it cannot use (that ends the section).
    * Lenient: a missing `end<name>` or anything unparseable ends the walk,
    * keeping what was read before it. */
  private def walkCMap(data: Array[Byte],
      sections: (String, Int, Seq[PObj] => Boolean)*): Unit =
    try {
      val lx = new Lexer(data)
      var going = true
      while (going) {
        lx.skipWs()
        if (lx.pos >= lx.n) going = false
        else {
          val c = lx.peek
          if (c == '/' || c == '(' || c == '<' || c == '[' ||
              (c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.') {
            lx.obj() // operand of some CMap operator we don't care about
          } else {
            val op = lx.token()
            if (op.isEmpty) going = false
            else sections.find(s => op == "begin" + s._1).foreach { case (name, arity, entry) =>
              var in = true
              while (in) {
                lx.skipWs()
                if (lx.pos >= lx.n) { in = false; going = false }
                else if (lx.peek == '<') in = entry(Seq.fill(arity)(lx.obj()))
                else { if (lx.token() != "end" + name) going = false; in = false }
              }
            } // other CMap keywords (usecmap, def, endcmap, ...) are skipped
          }
        }
      }
    } catch { case _: Throwable => () } // lenient: keep whatever parsed

  /** A CMap code: its bytes big-endian. */
  private def cmapCode(b: Array[Byte]): Int = b.foldLeft(0)((acc, x) => (acc << 8) | (x & 0xff))

  /** Parse a ToUnicode CMap (bfchar + bfrange sections, incl. the array
    * destination form); lenient — anything unparseable just ends the scan. */
  private[graft] def parseCMap(data: Array[Byte]): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    def strOf(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    def bump(s: String, k: Int): String =
      if (s.isEmpty) s
      else s.substring(0, s.length - 1) + (s.charAt(s.length - 1) + k).toChar
    walkCMap(data,
      ("bfchar", 2, {
        case Seq(PStr(src), PStr(dst)) => out += cmapCode(src) -> strOf(dst); true
        case _                         => false
      }),
      ("bfrange", 3, {
        case Seq(PStr(lo), PStr(hi), PStr(dst)) =>
          val (l, h) = (cmapCode(lo), cmapCode(hi))
          val base = strOf(dst)
          var k = 0
          while (l + k <= h && k < 65536) { out += (l + k) -> bump(base, k); k += 1 }
          true
        case Seq(PStr(lo), PStr(hi), PArr(items)) =>
          val l = cmapCode(lo)
          items.zipWithIndex.foreach {
            case (PStr(d), k) if l + k <= cmapCode(hi) => out += (l + k) -> strOf(d)
            case _                                     => ()
          }
          true
        case _ => false
      }))
    out.result()
  }

  /** Parse a CID-keyed /Encoding CMap stream (PDF 9.7.5.3): codespace
    * ranges (variable byte lengths), cidchar and cidrange sections. The
    * widened notch over the round-2 fence — previously any Type0 font with
    * an embedded-CMap encoding decoded every code as 2-byte Identity and
    * produced replacement chars. Lenient like [[parseCMap]]. Returns
    * (codespaces as (byteLen, lo, hi), code→CID chars, (lo, hi, startCid)
    * ranges). */
  private[graft] def parseCidCMap(
      data: Array[Byte]): (Vector[(Int, Int, Int)], Map[Int, Int], Vector[(Int, Int, Int)]) = {
    val spaces = Vector.newBuilder[(Int, Int, Int)]
    val chars = Map.newBuilder[Int, Int]
    val ranges = Vector.newBuilder[(Int, Int, Int)]
    walkCMap(data,
      ("codespacerange", 2, {
        case Seq(PStr(lo), PStr(hi)) if lo.length >= 1 && lo.length <= 4 =>
          spaces += ((lo.length, cmapCode(lo), cmapCode(hi))); true
        case _ => false
      }),
      ("cidchar", 2, {
        case Seq(PStr(src), PNum(cid)) => chars += cmapCode(src) -> cid.toInt; true
        case _                         => false
      }),
      ("cidrange", 3, {
        case Seq(PStr(lo), PStr(hi), PNum(st)) => ranges += ((cmapCode(lo), cmapCode(hi), st.toInt)); true
        case _                                 => false
      }))
    (spaces.result(), chars.result(), ranges.result())
  }

  /** Run the text operators of one page's content; emit positioned fragments. */
  private def extractFragments(doc: Doc, pg: PageObj, pageIdx: Int): Vector[Fragment] = {
    val content = doc.pageContent(pg)
    if (content.isEmpty) return Vector.empty
    val frags = Vector.newBuilder[Fragment]
    runContent(doc, content, pg.resources, pageIdx, 0.0, 0.0, 0, frags)
    frags.result()
  }

  /** Interpret one content stream (a page's, or a Form XObject's invoked
    * via `Do` — recursing with the form's own /Resources and its /Matrix
    * translation applied as an offset). */
  private def runContent(doc: Doc, content: Array[Byte], resources: Option[PDict],
      pageIdx: Int, dx: Double, dy: Double, depth: Int,
      frags: scala.collection.mutable.Builder[Fragment, Vector[Fragment]]): Unit = {
    if (depth > 8) return // cyclic or absurdly nested forms
    val lx = new Lexer(content)

    // text state (simplified: track translation of the text line matrix)
    var tlx, tly = 0.0      // line start
    var tx, ty = 0.0        // current position
    var leading = 0.0
    var inText = false
    val operands = ArrayBuffer.empty[PObj]

    val fonts = try doc.fontsOfRes(resources) catch { case _: Throwable => Map.empty[String, FontDec] }
    var curFont: FontDec = defaultFont

    def num(o: PObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

    def showText(bytes: Array[Byte]): Unit = {
      val t = curFont.decode(bytes)
      if (t.nonEmpty) frags += Fragment(pageIdx, tx + dx, ty + dy, t)
      // advance x roughly (not glyph-accurate; ordering only needs start pos)
      tx += t.length * 5.5
    }

    def doXObject(name: String): Unit = {
      val xobj = resources.map(r => doc.resolve(r.m.getOrElse("XObject", PNull))) match {
        case Some(xd: PDict) => doc.resolve(xd.m.getOrElse(name, PNull))
        case _               => PNull
      }
      xobj match {
        case st: PStream if doc.resolve(st.dict.m.getOrElse("Subtype", PNull)) == PName("Form") =>
          val formRes = doc.resolve(st.dict.m.getOrElse("Resources", PNull)) match {
            case d: PDict => Some(d)
            case _        => resources // inherit the invoking context's
          }
          val (mx, my) = doc.resolve(st.dict.m.getOrElse("Matrix", PNull)) match {
            case PArr(items) if items.length == 6 => (num(doc.resolve(items(4))), num(doc.resolve(items(5))))
            case _                                => (0.0, 0.0)
          }
          val inner = try doc.decodeStream(st) catch { case _: Throwable => Array.emptyByteArray }
          if (inner.nonEmpty)
            runContent(doc, inner, formRes, pageIdx, dx + mx, dy + my, depth + 1, frags)
        case _ => () // image or missing XObject: no text
      }
    }

    def nextLine(): Unit = { tlx = tlx; tly -= leading; tx = tlx; ty = tly }

    var going = true
    while (going) {
      lx.skipWs()
      if (lx.pos >= lx.n) going = false
      else {
        val c = lx.peek
        if (c == '/' || c == '(' || c == '<' || c == '[' ||
            (c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.') {
          operands += lx.obj()
        } else {
          val op = lx.token()
          if (op.isEmpty) { going = false }
          else {
            op match {
              case "BT" => inText = true; tlx = 0; tly = 0; tx = 0; ty = 0
              case "ET" => inText = false
              case "Tf" => // select font; size ignored (ordering only)
                if (operands.length >= 2) operands(operands.length - 2) match {
                  case PName(f) => curFont = fonts.getOrElse(f, defaultFont)
                  case _        => ()
                }
              case "TL" => if (operands.nonEmpty) leading = num(operands.last)
              case "Td" =>
                if (operands.length >= 2) {
                  tlx += num(operands(operands.length - 2)); tly += num(operands.last)
                  tx = tlx; ty = tly
                }
              case "TD" =>
                if (operands.length >= 2) {
                  leading = -num(operands.last)
                  tlx += num(operands(operands.length - 2)); tly += num(operands.last)
                  tx = tlx; ty = tly
                }
              case "Tm" =>
                if (operands.length >= 6) {
                  tlx = num(operands(operands.length - 2)); tly = num(operands.last)
                  tx = tlx; ty = tly
                }
              case "T*" => nextLine()
              case "Tj" => operands.lastOption.collect { case PStr(b) => showText(b) }
              case "'" =>
                nextLine()
                operands.lastOption.collect { case PStr(b) => showText(b) }
              case "\"" =>
                nextLine()
                operands.lastOption.collect { case PStr(b) => showText(b) }
              case "TJ" => operands.lastOption.collect {
                case PArr(items) =>
                  items.foreach {
                    case PStr(b) => showText(b)
                    case PNum(adj) => if (adj < -180) { frags += Fragment(pageIdx, tx + dx, ty + dy, " "); tx += 2 }
                    case _ => ()
                  }
              }
              case "Do" => operands.lastOption.collect { case PName(n) => doXObject(n) }
              case _ => () // graphics operators ignored
            }
            operands.clear()
          }
        }
      }
    }
  }

  /** The reference preprocesses every page with set_rotation(0)
    * (pdf_processor.py:76-77) BEFORE reading, which makes the displayed page
    * equal the content's user space. Matching that observable behavior means
    * /Rotate is deliberately discarded here: reading order is computed in
    * user space with only the MediaBox origin shifted out. */
  private def normalizeRotation(f: Fragment, mediaBox: (Double, Double, Double, Double), rotate: Int): Fragment = {
    val (x0, y0, _, _) = mediaBox
    f.copy(x = f.x - x0, y = f.y - y0)
  }

  /** Column clustering by x-gap + reading-order sort, then text assembly. */
  private def renderPage(doc: Doc, pg: PageObj, pageIdx: Int): String = {
    val raw = extractFragments(doc, pg, pageIdx)
    if (raw.isEmpty) return ""
    val frags = raw.map(normalizeRotation(_, pg.mediaBox, pg.rotate))

    // column detection: cluster distinct line-start x positions; a gap
    // > 120pt between consecutive cluster centers splits columns
    val starts = frags.map(_.x).distinct.sorted
    val splits = ArrayBuffer.empty[Double]
    var i = 1
    while (i < starts.length) {
      if (starts(i) - starts(i - 1) > 120) splits += (starts(i) + starts(i - 1)) / 2
      i += 1
    }
    def columnOf(x: Double): Int = splits.count(_ <= x)

    val byColumn = frags.groupBy(f => columnOf(f.x)).toVector.sortBy(_._1)
    val colTexts = byColumn.map { case (_, fs) =>
      // reading order within a column: y desc (PDF origin bottom-left), x asc
      val sorted = fs.sortBy(f => (-f.y, f.x))
      // group into lines by y (tolerance 2pt)
      val lines = ArrayBuffer.empty[ArrayBuffer[Fragment]]
      sorted.foreach { f =>
        if (lines.nonEmpty && math.abs(lines.last.head.y - f.y) < 2.0) lines.last += f
        else lines += ArrayBuffer(f)
      }
      lines.map(_.sortBy(_.x).map(_.text).mkString("").stripTrailing())
        .filter(_.nonEmpty).mkString("\n")
    }
    colTexts.filter(_.nonEmpty).mkString("\n\n")
  }
}
