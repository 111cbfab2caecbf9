package graft.textnorm

import java.util.regex.Pattern
import graft.html.{Elem, TextN, TreeBuilder}

/** Exact behavioral port of the reference's text-normalization and
  * markdown-table kernels:
  *
  *  - `normalize` = `normalize_text` (/root/reference/mvp/evaluation/eval.py:11-77)
  *  - `htmlTableToMarkdown` = `html_table_to_markdown` (eval.py:79-117)
  *  - `extractTable` = `extract_table` (eval.py:168-182)
  *
  * `normalize` runs the reference's N3-N8 regex chain as one scan; the
  * chain itself (nine substitutions, with Python's `\s` and `^`) is kept
  * in TextNormSpec as the scan's differential oracle.
  */
object TextNorm {

  // Fallback tag stripper (eval.py:45)
  private val pTag = Pattern.compile("<[^>]+>")

  /** normalize_text — steps N1-N8 of SURVEY.md section 2.8. */
  def normalize(textIn: String): String = {
    if (textIn == null || textIn.isEmpty) return ""
    // N1: strip + unescape literal \n \t \r
    val text = PyStr.strip(textIn).replace("\\n", "\n").replace("\\t", "\t").replace("\\r", "\r")

    // N2: HTML tables -> markdown tables, then strip remaining tags
    // (get_text); text with no '<' and no '&' parses to a single text node
    // of itself, so it skips the parse
    val n2 =
      if (text.indexOf('<') < 0 && text.indexOf('&') < 0) text
      else try replaceTablesAndGetText(TreeBuilder.parse(text))
      catch { case _: Throwable => pTag.matcher(text).replaceAll("") }

    // N4 (lowercase) before N3: lowering maps no character to or from ' ',
    // '\r' or '\n', which are neither cased nor case-ignorable, so the two
    // steps commute
    val lowered = PyStr.lower(n2)
    val deleted = styleMarkers(lowered)
    val lines = new Lines(lowered.length)
    var d = 0
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if (d < deleted.length && deleted(d) == i) d += 1 // N5: a paired style marker
      else if (c == ' ') { if (i == 0 || lowered.charAt(i - 1) != ' ') lines.put(c) } // N3: ` +` -> ` `
      else if (c == '\r') { // N3: `\r\n|\r` -> `\n`
        lines.put('\n')
        if (i + 1 < lowered.length && lowered.charAt(i + 1) == '\n') i += 1
      } else lines.put(c)
      i += 1
    }
    lines.result
  }

  /** N5's four substitutions, bold `\*\*([^*]+)\*\*`, then `\*([^*]+)\*`,
    * `_([^_]+)_` and `` `([^`]+)` ``, each over the previous one's output.
    * They only delete markers, so they are decided on the marker positions
    * alone. Returns the deleted positions, ascending. N3 does not move the
    * decisions: it never empties the text between two markers. */
  private def styleMarkers(text: String): Array[Int] = {
    val stars = positions(text, '*')
    val bold = Array.newBuilder[Int] // "**", content, "**"; a failed try moves on one star
    var k = 0
    while (k + 3 < stars.length)
      if (stars(k + 1) == stars(k) + 1 && stars(k + 2) > stars(k + 1) + 1 && stars(k + 3) == stars(k + 2) + 1) {
        bold ++= stars.slice(k, k + 4); k += 4
      } else k += 1
    val boldDel = bold.result()
    val starDel = (boldDel ++ pairUp(stars.diff(boldDel), boldDel)).sorted
    val underDel = (starDel ++ pairUp(positions(text, '_'), starDel)).sorted
    (underDel ++ pairUp(positions(text, '`'), underDel)).sorted
  }

  /** `m([^m]+)m` over text whose `deleted` positions (ascending) are gone:
    * each marker pairs with the next when a kept character lies between. */
  private def pairUp(marks: Array[Int], deleted: Array[Int]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var d = 0 // the first deletion after marks(k)
    var k = 0
    while (k + 1 < marks.length) {
      val (p, q) = (marks(k), marks(k + 1))
      while (d < deleted.length && deleted(d) < p) d += 1
      var e = d
      while (e < deleted.length && deleted(e) < q) e += 1
      if (q - p - 1 > e - d) { out += p; out += q; k += 2 } else k += 1
    }
    out.result()
  }

  private def positions(text: String, c: Char): Array[Int] =
    Iterator.iterate(text.indexOf(c))(i => text.indexOf(c, i + 1)).takeWhile(_ >= 0).toArray

  /** N6-N8 over the N5 output, one character at a time. */
  private final class Lines(capacity: Int) {
    private val out = new java.lang.StringBuilder(capacity)
    private val held = new java.lang.StringBuilder // whitespace from a line start
    private var mode = 0 // 0: plain, 1: holding whitespace, 2: skipping it after a bullet
    private var prev = '\n' // the previous input character; position 0 is a line start
    private var open = false // the current output line has content
    private var end = 0 // out's length after that content

    /** N6: `^\s*[*+]\s*` -> `- ` (MULTILINE). The leading whitespace may
      * span lines; it is held until the bullet check decides on all of it. */
    def put(c: Char): Unit = {
      val lineStart = prev == '\n'
      prev = c
      val ws = PyStr.isSpace(c)
      val bullet = c == '*' || c == '+'
      if (mode == 2 && ws) ()
      else if (mode == 1) {
        if (ws) held.append(c)
        else if (bullet) { held.setLength(0); line('-'); line(' '); mode = 2 }
        else { flushHeld(); line(c); mode = 0 }
      } else {
        mode = 0
        if (!lineStart) line(c)
        else if (ws) { held.append(c); mode = 1 }
        else if (bullet) { line('-'); line(' '); mode = 2 }
        else line(c)
      }
    }

    private def flushHeld(): Unit = { held.toString.foreach(line); held.setLength(0) }

    /** N7 + N8: every line stripped, blank lines dropped, the rest joined
      * by `\n` (after N7, `\n\s*\n` matches only runs of empty lines). */
    private def line(c: Char): Unit =
      if (c == '\n') { if (open) { out.setLength(end); open = false } }
      else if (PyStr.isSpace(c)) { if (open) out.append(c) }
      else {
        if (!open) { if (out.length > 0) out.append('\n'); open = true }
        out.append(c)
        end = out.length
      }

    def result: String = { // held whitespace at the end would only be stripped
      if (open) out.setLength(end)
      out.toString
    }
  }

  /** Walk the tree; each <table> subtree is replaced by its pipe-markdown
    * rendering, everything else contributes its text (BS4
    * `table.replace_with(md)` + `soup.get_text()`, eval.py:37-42). */
  private[graft] def replaceTablesAndGetText(root: Elem): String = {
    val sb = new StringBuilder
    def rec(e: Elem): Unit = e.children.foreach {
      case t: TextN => sb.append(t.data)
      case el: Elem =>
        if (el.tag == "table") sb.append(htmlTableToMarkdown(el))
        else rec(el)
    }
    rec(root)
    sb.toString
  }

  /** html_table_to_markdown (eval.py:79-117): first <tr> supplies the header
    * (th or td cells, text stripped; kept even if empty, eval.py:87-89);
    * remaining <tr>s supply data rows from their <td>s only; empty rows
    * dropped; render as pipe table with a `---` separator sized to the header. */
  def htmlTableToMarkdown(table: Elem): String =
    try {
      val trs = table.findAll("tr")
      if (trs.isEmpty) ""
      else {
        val header = cellsOf(trs.head, thToo = true)
        val rows = header +: Vector.fill(header.length)("---") +:
          trs.tail.map(cellsOf(_, thToo = false)).filter(_.nonEmpty)
        rows.map(_.mkString("| ", " | ", " |")).mkString("\n")
      }
    } catch {
      case _: Throwable => table.allText // fallback (eval.py:115-117)
    }

  /** Cells of one <tr> in document order: th+td for the header row, td only
    * for data rows; get_text(strip=True) per cell. */
  private def cellsOf(tr: Elem, thToo: Boolean): Vector[String] = {
    val out = Vector.newBuilder[String]
    def rec(e: Elem): Unit = e.children.foreach {
      case el: Elem =>
        if (el.tag == "td" || (thToo && el.tag == "th")) out += el.strippedText
        else rec(el)
      case _ =>
    }
    rec(tr)
    out.result()
  }

  private def isLineBreak(c: Char) = // where Python's str.splitlines() ends a line (and at \r\n)
    (c >= '\n' && c <= '\r') || (c >= '\u001c' && c <= '\u001e') || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** extract_table (eval.py:168-182): lines containing '|' accumulate rows
    * (cells split on '|', stripped, empties dropped); a line without '|'
    * closes the current table. Returns tables as rows of cells. */
  def extractTable(text: String): Vector[Vector[Vector[String]]] = {
    val tables = Vector.newBuilder[Vector[Vector[String]]]
    val current = Vector.newBuilder[Vector[String]]
    var rows = 0
    var start = 0
    while (start <= text.length) {
      var end = start
      while (end < text.length && !isLineBreak(text.charAt(end))) end += 1
      val line = text.substring(start, end)
      if (line.contains("|")) {
        val row = line.split("\\|", -1).iterator.map(PyStr.strip).filter(_.nonEmpty).toVector
        if (row.nonEmpty) { current += row; rows += 1 }
      } else if (rows > 0) { tables += current.result(); current.clear(); rows = 0 }
      start = if (text.startsWith("\r\n", end)) end + 2 else end + 1
    }
    if (rows > 0) tables += current.result()
    tables.result()
  }
}
