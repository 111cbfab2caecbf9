package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.{Metrics, SequenceMatcher}

/** Metric-kernel fixtures (reference: /root/reference/mvp/evaluation/eval.py:145-267).
  * SequenceMatcher expectations pinned with CPython 3 difflib (incl. autojunk).
  */
class MetricsSpec extends AnyFunSuite {
  private val eps = 1e-12
  private def ~=(a: Double, b: Double) = math.abs(a - b) < eps

  test("cer: zero guards and known distances (eval.py:145-150)") {
    assert(~=(Metrics.cer("", ""), 0.0))
    assert(~=(Metrics.cer("", "x"), 1.0))
    assert(~=(Metrics.cer("abc", ""), 1.0))
    assert(~=(Metrics.cer("kitten", "sitting"), 3.0 / 6))
    assert(~=(Metrics.cer("  abc  ", "abc"), 0.0)) // strips first
  }

  test("wer: zero guards and token distances (eval.py:152-157)") {
    assert(~=(Metrics.wer("", ""), 0.0))
    assert(~=(Metrics.wer("", "word"), 1.0))
    assert(~=(Metrics.wer("the cat sat", "the cat mat"), 1.0 / 3))
    assert(~=(Metrics.wer("a b c d", "a b c"), 1.0 / 4))
  }

  /** The two-row DP the kernel replaced, kept as its differential oracle. */
  private def dpDistance[T](ref: Array[T], hyp: Array[T]): Int = {
    val n = ref.length
    val m = hyp.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val cost = if (ref(i - 1) == hyp(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  private def codePoints(s: String): Array[Int] = s.codePoints().toArray

  test("editDistanceSeq matches the DP oracle: block edges, tiny and large alphabets") {
    val rnd = new scala.util.Random(20240611L)
    val edges = Seq(0, 1, 2, 63, 64, 65, 127, 128, 129, 191, 192, 193, 300)
    // alphabets of 1-3 symbols force long carry chains; large ones mix the
    // dense table with the per-block map (negative and huge ids included)
    val alphabets: Seq[Int => Int] = Seq(
      _ => 7, k => k % 2, k => 97 + k % 3, k => k % 200, k => 250 + k % 12,
      k => k * 7919 + 256, k => Int.MinValue + k, k => Int.MaxValue - k % 500,
      k => if (k % 3 == 0) k % 256 else 0x1F600 + k % 300)
    def draw(n: Int, sym: Int => Int, span: Int): Array[Int] =
      Array.fill(n)(sym(rnd.nextInt(span)))
    for (la <- edges; lb <- edges; (sym, ai) <- alphabets.zipWithIndex) {
      val span = if (ai < 3) 3 else 100000
      val a = draw(la, sym, span)
      val b = if (rnd.nextBoolean()) draw(lb, sym, span)
              else Array.tabulate(lb)(j => if (j < la && rnd.nextInt(5) > 0) a(j) else sym(rnd.nextInt(span)))
      val want = dpDistance(a, b)
      assert(Metrics.editDistanceSeq(a, b) == want, s"la=$la lb=$lb alphabet=$ai")
      assert(Metrics.editDistanceSeq(b, a) == want, s"swapped la=$la lb=$lb alphabet=$ai")
    }
    for (_ <- 0 until 3000) {
      val sym = alphabets(rnd.nextInt(alphabets.length))
      val span = 1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else 5000)
      val a = draw(rnd.nextInt(301), sym, span)
      val b = draw(rnd.nextInt(301), sym, span)
      assert(Metrics.editDistanceSeq(a, b) == dpDistance(a, b), s"${a.toSeq} vs ${b.toSeq}")
    }
  }

  test("cer counts code points: astral symbols are one symbol, not two UTF-16 units") {
    // UTF-16 units would give 2/5 (ref 5 units, deleting 𝔹 costs 2)
    assert(~=(Metrics.cer("𝔸𝔹ℂ", "𝔸ℂ"), 1.0 / 3))
    assert(~=(Metrics.cer("😀😃", "😃😀"), 1.0))
    val rnd = new scala.util.Random(7L)
    val pool = Array(0x41, 0x62, 0xE9, 0x3B1, 0x1D538, 0x1D539, 0x1F600, 0x1F603, 0x20000)
    def str(n: Int): String = {
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(_ => sb.appendCodePoint(pool(rnd.nextInt(pool.length))))
      sb.toString
    }
    for (_ <- 0 until 500) {
      val r = str(1 + rnd.nextInt(150)); val h = str(rnd.nextInt(150))
      val want = dpDistance(codePoints(r), codePoints(h)).toDouble / codePoints(r).length
      assert(~=(Metrics.cer(r, h), want), s"$r vs $h")
    }
  }

  test("wer: words that differ only by case or punctuation are different words") {
    import graft.textnorm.PyStr
    assert(~=(Metrics.wer("The cat, sat.", "the cat sat"), 1.0))
    assert(~=(Metrics.wer("a b. c", "a b c"), 1.0 / 3))
    val rnd = new scala.util.Random(11L)
    val vocab = Array("word", "Word", "WORD", "word,", "word.", "(word)", "other", "Other", "x", "𝔸")
    def text(n: Int): String = Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (_ <- 0 until 400) {
      // lengths straddle the 64- and 128-word block edges
      val r = text(1 + rnd.nextInt(140)); val h = text(rnd.nextInt(140))
      val rw = PyStr.split(r)
      val want = dpDistance(rw, PyStr.split(h)).toDouble / rw.length
      assert(~=(Metrics.wer(r, h), want), s"$r vs $h")
    }
  }

  test("cer and wer on two 100k-code-point strings finish within 5 s") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // ref: 87,500 distinct astral code points, a space at every i % 8 == 3;
    // hyp: the same with every non-space code point of its first half
    // replaced by 'x', which ref lacks, so every 'x' costs one substitution
    val n = 100000
    def build(f: Int => Int): String = {
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(i => sb.appendCodePoint(f(i)))
      sb.toString
    }
    def refAt(i: Int): Int = if (i % 8 == 3) ' ' else 0x20000 + ((i * 40503) & 0x1FFFF)
    val ref = build(refAt)
    val hyp = build(i => if (i < n / 2 && i % 8 != 3) 'x' else refAt(i))
    assert(codePoints(ref).distinct.length == 87501) // and the space
    val (c, w) = Await.result(
      Future((Metrics.cer(ref, hyp), Metrics.wer(ref, hyp)))(ExecutionContext.global), 5.seconds)
    assert(~=(c, 43750.0 / n))
    // 12,501 ref words; the 6,251 hyp words holding an 'x' are substitutions
    assert(~=(w, 6251.0 / 12501))
  }

  test("word_accuracy: multiset not set (eval.py:159-166)") {
    assert(~=(Metrics.wordAccuracy("a a b", "a b b"), 2.0 / 3))
    assert(~=(Metrics.wordAccuracy("", "x"), 0.0))
    assert(~=(Metrics.wordAccuracy("A B", "a b"), 1.0)) // lowercased
    assert(~=(Metrics.wordAccuracy("x y z", "q r s"), 0.0))
  }

  test("table_accuracy: multiset cell overlap (eval.py:184-195)") {
    assert(~=(Metrics.tableAccuracy("| a | b |\n| a | c |", "| a | a | b |"), 3.0 / 4))
    assert(~=(Metrics.tableAccuracy("no tables here", "| a |"), 0.0))
    assert(~=(Metrics.tableAccuracy("| a |", "nothing"), 0.0))
  }

  test("table_structure_accuracy: exact first-match-with-break semantics") {
    val s = Metrics.tableStructureAccuracy("| a | b |\n| 1 | 2 |", "| a | b |\n| 1 | 2 |")
    assert(~=(s.rowAccuracy, 1.0) && ~=(s.columnAccuracy, 1.0) && ~=(s.cellAccuracy, 1.0))
    val none = Metrics.tableStructureAccuracy("plain", "| a |")
    assert(~=(none.rowAccuracy, 0.0) && ~=(none.columnAccuracy, 0.0) && ~=(none.cellAccuracy, 0.0))
  }

  test("table_structure_accuracy quirk: no-break cell loop can exceed 1.0") {
    // two hyp tables both match the single ref table's shape -> cells double-counted,
    // exactly as eval.py:229-234 does (loop has no break)
    val s = Metrics.tableStructureAccuracy(
      "| a | b |\n| 1 | 2 |",
      "| a | b |\n| 1 | 2 |\nx\n| c | d |\n| 3 | 4 |")
    assert(~=(s.rowAccuracy, 1.0))
    assert(~=(s.columnAccuracy, 1.0))
    assert(~=(s.cellAccuracy, 2.0))
  }

  test("SequenceMatcher.ratio matches CPython difflib (no autojunk)") {
    assert(~=(SequenceMatcher.ratio("", ""), 1.0))
    assert(~=(SequenceMatcher.ratio("abc", ""), 0.0))
    assert(~=(SequenceMatcher.ratio("abc", "abc"), 1.0))
    assert(~=(SequenceMatcher.ratio("abcd", "bcde"), 0.75))
    assert(~=(SequenceMatcher.ratio("kitten", "sitting"), 0.6153846153846154))
    assert(~=(SequenceMatcher.ratio("the quick brown fox", "the quick brown dog"), 0.8947368421052632))
    assert(~=(SequenceMatcher.ratio("private Thread currentThread;",
      "private volatile Thread currentThread;"), 0.8656716417910447))
  }

  test("SequenceMatcher.ratio matches CPython difflib autojunk path (len(b)>=200)") {
    assert(~=(SequenceMatcher.ratio("a" * 100 + "b" * 50, "a" * 150 + "b" * 100), 0.5))
    assert(~=(SequenceMatcher.ratio("x" + "ab" * 120, "y" + "ab" * 120 + "z"), 0.0))
    assert(~=(SequenceMatcher.ratio("hello world " * 30, "hello there world " * 25),
      0.014814814814814815))
  }

  test("SequenceMatcher.ratio matches CPython difflib on the 300-case fuzz corpus") {
    // fixtures/seqmatcher_cases.jsonl: seeded random + near-dup pairs,
    // 128 of them on the autojunk path, expected ratios computed by
    // CPython 3.11 difflib (generation commands in the file's git log)
    val src = scala.io.Source.fromFile("fixtures/seqmatcher_cases.jsonl", "UTF-8")
    val cases = try src.getLines().toVector finally src.close()
    assert(cases.size == 300)
    def field(line: String, k: String): String = {
      val i = line.indexOf("\"" + k + "\": ")
      val start = i + k.length + 4
      if (line.charAt(start) == '"') {
        val sb = new StringBuilder
        var j = start + 1
        while (line.charAt(j) != '"') { // corpus alphabet has no escapes except none
          sb.append(line.charAt(j)); j += 1
        }
        sb.toString
      } else line.substring(start).takeWhile(c => c != ',' && c != '}')
    }
    cases.foreach { line =>
      val a = field(line, "a"); val b = field(line, "b")
      val want = field(line, "ratio").toDouble
      val got = SequenceMatcher.ratio(a, b)
      assert(~=(got, want), s"drift: a=${a.take(40)}... b=${b.take(40)}... want=$want got=$got")
    }
  }

  test("evaluate_ocr: identical docs score perfectly; metric bounds hold") {
    val md = "# Title\n\nSome **bold** text.\n\n| a | b |\n| --- | --- |\n| 1 | 2 |"
    val m = Metrics.evaluateOcr(md, md)
    assert(~=(m.cer, 0.0) && ~=(m.wer, 0.0) && ~=(m.wordAcc, 1.0))
    assert(~=(m.tableAcc, 1.0) && ~=(m.sequenceSimilarity, 1.0))
    assert(~=(m.rowAccuracy, 1.0) && ~=(m.columnAccuracy, 1.0) && ~=(m.cellAccuracy, 1.0))
  }

  test("failed-row imputation values (eval.py:290-301)") {
    val f = Metrics.failedRow
    assert(f.cer == 1.0 && f.wer == 1.0 && f.wordAcc == 0.0 && f.tableAcc == 0.0 &&
      f.sequenceSimilarity == 0.0 && f.rowAccuracy == 0.0 &&
      f.columnAccuracy == 0.0 && f.cellAccuracy == 0.0)
  }
}
