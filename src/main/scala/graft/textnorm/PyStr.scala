package graft.textnorm

/** Python `str` semantics that differ from java.lang.String, ported exactly.
  *
  * Python's whitespace set (what `str.strip()` / `str.split()` / re `\s`
  * consider space) is: \t \n \x0b \x0c \r \x1c-\x1f space \x85 \xa0
  *  -          　. Java's `String.strip` /
  * regex `\s` use different sets (\xa0 and \x1c-\x1f diverge), so these
  * helpers are used everywhere the reference calls `.strip()` / `.split()`
  * (/root/reference/mvp/evaluation/eval.py:28,147,154,161 ...).
  */
object PyStr {

  def isSpace(c: Char): Boolean = {
    val i = c.toInt
    (i == 0x09) || (i == 0x0a) || (i == 0x0b) || (i == 0x0c) ||
    (i == 0x0d) || (i >= 0x1c && i <= 0x1f) || (i == 0x20) ||
    (i == 0x85) || (i == 0xa0) || (i == 0x1680) ||
    (i >= 0x2000 && i <= 0x200a) || (i == 0x2028) || (i == 0x2029) ||
    (i == 0x202f) || (i == 0x205f) || (i == 0x3000)
  }

  /** Python str.strip() with no argument. */
  def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isSpace(s.charAt(a))) a += 1
    while (b > a && isSpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Python str.split() with no argument: split on whitespace runs,
    * dropping empty tokens. */
  def split(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSpace(s.charAt(i))) i += 1
        out += s.substring(start, i)
      }
    }
    out.toArray
  }

  /** Python str.lower() is Java toLowerCase(ROOT) for our corpus; exotic
    * divergences documented in SURVEY.md section 2.8 N4; goldens are
    * engine-generated so internally consistent. */
  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
}
