package graft

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import graft.html.TreeBuilder
import graft.textnorm.{PyStr, TextNorm}

/** Exact-port fixtures for the normalization kernel
  * (reference: /root/reference/mvp/evaluation/eval.py:11-77,168-182).
  * Expected values hand-derived from the reference semantics.
  */
class TextNormSpec extends AnyFunSuite {

  /** `normalize` as the reference's chain of regex substitutions, which the
    * one-scan N3-N8 replaced: its differential oracle. Regexes are compiled
    * with UNIX_LINES so `^` under MULTILINE matches only after `\n`, as in
    * Python, and Python's `\s` is the explicit class `WS`. N2 always parses. */
  private object RegexChain {
    private val WS =
      "\\t\\n\\x0b\\f\\r\\x1c-\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"
    // Step 3: collapse runs of ASCII space; then normalize newlines
    private val pSpaces  = Pattern.compile(" +")
    private val pNewline = Pattern.compile("\r\n|\r")
    // Step 5: styling strips — order matters (bold before italics)
    private val pBold    = Pattern.compile("\\*\\*([^*]+)\\*\\*")
    private val pItalic1 = Pattern.compile("\\*([^*]+)\\*")
    private val pItalic2 = Pattern.compile("_([^_]+)_")
    private val pCode    = Pattern.compile("`([^`]+)`")
    // Step 6: bullet normalization, MULTILINE with Python-\s and \n-only ^
    private val pBullet  = Pattern.compile(
      "^[" + WS + "]*[*+][" + WS + "]*", Pattern.MULTILINE | Pattern.UNIX_LINES)
    // Final cleanup: collapse blank lines
    private val pBlank   = Pattern.compile("\n[" + WS + "]*\n")
    private val pTag     = Pattern.compile("<[^>]+>")

    def normalize(textIn: String): String = {
      if (textIn == null || textIn.isEmpty) return ""
      var text = PyStr.strip(textIn)
      text = text.replace("\\n", "\n").replace("\\t", "\t").replace("\\r", "\r")
      text =
        try TextNorm.replaceTablesAndGetText(TreeBuilder.parse(text))
        catch { case _: Throwable => pTag.matcher(text).replaceAll("") }
      text = pSpaces.matcher(text).replaceAll(" ")
      text = pNewline.matcher(text).replaceAll("\n")
      text = PyStr.lower(text)
      text = pBold.matcher(text).replaceAll("$1")
      text = pItalic1.matcher(text).replaceAll("$1")
      text = pItalic2.matcher(text).replaceAll("$1")
      text = pCode.matcher(text).replaceAll("$1")
      text = pBullet.matcher(text).replaceAll("- ")
      text = text.split("\n", -1).map(PyStr.strip).mkString("\n")
      text = pBlank.matcher(text).replaceAll("\n")
      PyStr.strip(text)
    }
  }

  private def same(in: String): Unit = {
    val want = RegexChain.normalize(in)
    assert(TextNorm.normalize(in) == want, s"input ${show(in)}: want ${show(want)}")
  }

  private def show(s: String): String =
    s.flatMap(c => if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString)

  test("PyStr.strip strips Python whitespace incl. NBSP and \\x1c-\\x1f") {
    assert(PyStr.strip("  x  ") == "x")
    assert(PyStr.strip(" ab ") == "ab")
    assert(PyStr.strip("") == "")
    assert(PyStr.strip("   ") == "")
    assert(PyStr.strip("no-trim") == "no-trim")
  }

  test("PyStr.split tokenizes on whitespace runs dropping empties") {
    assert(PyStr.split("  a  b\tc\n d ").toSeq == Seq("a", "b", "c", "d"))
    assert(PyStr.split("").isEmpty)
    assert(PyStr.split(" \t\n ").isEmpty)
    assert(PyStr.split("one").toSeq == Seq("one"))
  }

  test("N1: strip + escaped literal unescape") {
    assert(TextNorm.normalize("  Hello   World  ") == "hello world")
    assert(TextNorm.normalize("Line1\\nLine2") == "line1\nline2")
    assert(TextNorm.normalize("A\\tB") == "a\tb") // tab survives (only spaces collapse)
  }

  test("N3 order: spaces collapse before CRLF normalization") {
    assert(TextNorm.normalize("a  b\r\nc\rd") == "a b\nc\nd")
  }

  test("N5: styling strip order — bold before italics") {
    assert(TextNorm.normalize("**Bold** and *ital* and _under_ and `code`") ==
      "bold and ital and under and code")
    // bold must not be half-eaten by the italics pass
    assert(TextNorm.normalize("x **b** y") == "x b y")
  }

  test("N6: bullet normalization * and + to '- ', '-' untouched") {
    assert(TextNorm.normalize("* item one\n+ item two\n- item three") ==
      "- item one\n- item two\n- item three")
  }

  test("N6 quirk preserved: two *-bullets get eaten by the italics pass first") {
    // eval.py strips italics (step 5) before bullets (step 6):
    // "* a\n* b" -> italics \*([^*]+)\* matches "* a\n*" -> " a\n b"
    assert(TextNorm.normalize("* a\n* b") == "a\nb")
  }

  test("N7+N8: per-line trim and blank-line collapse") {
    assert(TextNorm.normalize("a\n\n\nb") == "a\nb")
    assert(TextNorm.normalize("  a  \n \n  b  ") == "a\nb")
  }

  test("N2: HTML table converted to pipe markdown, other tags stripped") {
    val in = "<p>Intro</p><table><tr><th>A</th><th>B</th></tr>" +
      "<tr><td>1</td><td>2</td></tr></table>After"
    assert(TextNorm.normalize(in) ==
      "intro| a | b |\n| --- | --- |\n| 1 | 2 |after")
  }

  test("N2: td-only header row accepted; empty rows dropped") {
    val in = "<table><tr><td>H1</td><td>H2</td></tr><tr></tr>" +
      "<tr><td>x</td><td>y</td></tr></table>"
    assert(TextNorm.normalize(in) ==
      "| h1 | h2 |\n| --- | --- |\n| x | y |")
  }

  test("N2: entities decoded, stray '<' survives as text") {
    assert(TextNorm.normalize("a &amp; b") == "a & b")
    assert(TextNorm.normalize("1 < 2 and 3 > 2") == "1 < 2 and 3 > 2")
    assert(TextNorm.normalize("<page_number>3</page_number>") == "3")
  }

  test("normalize is idempotent on already-normal text") {
    val once = TextNorm.normalize("## Head\nBody **b** text\n\n* x\n")
    assert(TextNorm.normalize(once) == once)
  }

  test("extract_table: pipe rows accumulate, non-pipe line closes a table") {
    val t = TextNorm.extractTable("| a | b |\n| --- | --- |\n| 1 | 2 |\ntext\n| x |")
    assert(t == Vector(
      Vector(Vector("a", "b"), Vector("---", "---"), Vector("1", "2")),
      Vector(Vector("x"))))
  }

  test("extract_table: all-empty-cell pipe line is skipped without closing") {
    val t = TextNorm.extractTable("| a |\n|  |\n| b |")
    assert(t == Vector(Vector(Vector("a"), Vector("b"))))
  }

  test("empty / null inputs") {
    assert(TextNorm.normalize("") == "")
    assert(TextNorm.normalize(null) == "")
  }

  test("named entity decoding covers the full HTML4 table") {
    import graft.html.Entities
    assert(Entities.named.size >= 253)
    // spot checks across the ranges: Latin-1, Greek, symbols, markup
    assert(Entities.decode("&Aacute;&aelig;&iquest;") == "\u00c1\u00e6\u00bf")
    assert(Entities.decode("&alpha;&Omega;&sigmaf;") == "\u03b1\u03a9\u03c2")
    assert(Entities.decode("&rarr;&hearts;&sum;&ne;") == "\u2192\u2665\u2211\u2260")
    assert(Entities.decode("&OElig;&permil;&sbquo;") == "\u0152\u2030\u201a")
    assert(Entities.decode("x&shy;y&nbsp;z") == "x\u00ady\u00a0z")
    // unknown + numeric forms unchanged
    assert(Entities.decode("&nosuch;&#65;&#x42;") == "&nosuch;AB")
  }

  test("fused normalize equals the regex chain on adversarial strings") {
    Seq(
      // nested and unbalanced style markers
      "**a**", "***a***", "****", "**a*b**", "*a**b*", "**a**b**", "*x**y**z*", "**a", "a**", "** a **",
      "*a*b*c*", "*a_b*c_", "_a*b_c*", "_*_*", "x_*_*y", "__a__", "_a__b_", "`a`b`", "``a``", "`*a*`",
      "*`a*`", "_`_`", "a*\n*b", "**\n**", "*\n\n*", "snake_case_name", "2 * 3 * 4", "a ** b ** c",
      // bullets behind Python-only whitespace, and bullets that span lines
      "\u001c* item", "\u00a0+ item", "\u3000* item", "\u2028* x", "x\n \u001c\n* y", "* \n\n foo",
      "*\n+ y", "+\n+\n+", "+ a\n+ b\n+ c", "- a\n* b", "  +  ", "+", "*", "a\n*", "\n\n* x",
      "+ **b** +", "+*a*", "x +\ny", "\u0085+ z", "\u000b\u000c* q",
      // line breaks and spaces
      "a\r\nb\rc\n\rd", "\r\r\n\n", "a  \r\n  b", "a \r b", "  a   b  ", "a\t \tb", "\\n* x\\r\\n+ y",
      "a\n \n\u3000\n\u00a0\nb", "a\u2028\u2029b",
      // HTML tables, entities and a stray '<'
      "<table><tr><th>**A**</th><th>_b_</th></tr><tr><td>* 1</td><td>+ 2</td></tr></table>",
      "<table><tr><td>x</td></tr></table>\n* after", "a &amp; *b* &lt;c&gt;", "&nbsp;* x", "1 < 2 * 3 > 2",
      "<p>* a</p><p>* b</p>", "a < b", "<b>bold</b> **md**", "&#42;a&#42;", "x &lt;table&gt; y",
      // case mapping
      "ΣΑΣ **ΟΔΟΣ**", "İstanbul *İ*", "ǅ_a_", "😀 *😁* _😂_"
    ).foreach(same)
  }

  test("fused normalize equals the regex chain on random strings of markers, spaces and breaks") {
    val alphabet = "**__``++--  \n\n\r\t\u000b\u001c\u00a0\u3000\u2028\u0085abΣİ<>&|;\\".toCharArray
    val rnd = new scala.util.Random(20261020L)
    for (_ <- 0 until 30000) {
      val n = rnd.nextInt(if (rnd.nextInt(10) == 0) 120 else 24)
      same(new String(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))))
    }
  }

  test("fused normalize equals the regex chain on Synth goldens with seeded edits") {
    val inserts = Seq("*", "**", "_", "`", "+ ", "* ", "\n", "\r\n", "\r", "  ", "\u00a0", "\u3000", "\u001c",
      "<", "&amp;", "|", "\n\n* ", "<table><tr><td>a</td><td>b</td></tr></table>", "Σ")
    val rnd = new scala.util.Random(7L)
    var checked = 0
    for (i <- 0L until 300L) {
      val p = graft.synth.Synth.page(7L, i)
      val e = graft.extract.Extractor.extract(p.url, p.html)
      if (e.status == "ok") {
        same(e.markdown)
        for (_ <- 0 until 4) {
          val sb = new StringBuilder(e.markdown)
          for (_ <- 0 until 1 + rnd.nextInt(12)) {
            val at = rnd.nextInt(sb.length + 1)
            rnd.nextInt(3) match {
              case 0 => sb.insert(at, inserts(rnd.nextInt(inserts.length)))
              case 1 => if (at < sb.length) sb.deleteCharAt(at)
              case _ => if (at < sb.length) sb.setCharAt(at, "*_`+ \n\r"(rnd.nextInt(7)))
            }
          }
          same(sb.toString)
        }
        checked += 1
      }
    }
    assert(checked > 200, s"only $checked ok pages")
  }

  test("N2 is the identity on text with no '<' and no '&'") {
    val alphabet = "ab *_`+-|\n\r\t\u00a0\u3000\u001c;#>\\Σ😀".toCharArray
    val rnd = new scala.util.Random(3L)
    for (_ <- 0 until 5000) {
      val t = new String(Array.fill(1 + rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))))
      assert(TextNorm.replaceTablesAndGetText(TreeBuilder.parse(t)) == t, show(t))
    }
    for (i <- 0L until 100L) {
      val p = graft.synth.Synth.page(11L, i)
      val md = graft.extract.Extractor.extract(p.url, p.html).markdown
      if (md != null && md.indexOf('<') < 0 && md.indexOf('&') < 0)
        assert(TextNorm.replaceTablesAndGetText(TreeBuilder.parse(md)) == md, show(md))
    }
  }
}
