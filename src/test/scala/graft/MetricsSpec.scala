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

  test("SequenceMatcher.ratio counts code points, as CPython difflib does") {
    // CPython 3: difflib.SequenceMatcher(None, a, b).ratio(); over UTF-16
    // units the first two read 0.75 and 0.6667
    assert(~=(SequenceMatcher.ratio("a😀b", "a😀c"), 2.0 / 3))
    assert(~=(SequenceMatcher.ratio("x😀😁y", "x😁😀y"), 0.75))
    // autojunk counts code points too: b is 200 code points (300 UTF-16
    // units), so an element is popular above 3 occurrences, not 4; every
    // astral symbol of b occurs 4 times. Over UTF-16 units: 0.8805...
    def sym(k: Int): Int = if (k % 2 == 0) 0x1F600 + ((k / 2) * 7) % 25 else 0x4E00 + ((k / 2) * 13) % 50
    def str(f: Int => Int) =
      (0 until 200).foldLeft(new java.lang.StringBuilder)((sb, k) => sb.appendCodePoint(f(k))).toString
    val b = str(sym)
    val a = str(k => if (k % 7 == 3) 0x4E00 + (k * 11) % 50 else sym(k))
    assert(b.length == 300 && b.codePointCount(0, b.length) == 200)
    assert(~=(SequenceMatcher.ratio(a, b), 0.06))
  }

  /** The string-level word and table metrics the per-side profiles
    * replaced, as their differential oracle. */
  private object Unshared {
    import graft.textnorm.{PyStr, TextNorm}
    private def overlap(as: Iterable[String], bs: Iterable[String]): Int = {
      val ca = as.groupMapReduce(identity)(_ => 1)(_ + _)
      val cb = bs.groupMapReduce(identity)(_ => 1)(_ + _)
      ca.iterator.map { case (k, n) => math.min(n, cb.getOrElse(k, 0)) }.sum
    }
    def wordAccuracy(ref: String, hyp: String): Double = {
      val rw = PyStr.split(PyStr.lower(ref))
      if (rw.isEmpty) 0.0 else overlap(rw, PyStr.split(PyStr.lower(hyp))).toDouble / rw.length
    }
    def tableAccuracy(ref: String, hyp: String): Double = {
      val refCells = TextNorm.extractTable(ref).flatten.flatten
      if (refCells.isEmpty) 0.0
      else overlap(refCells, TextNorm.extractTable(hyp).flatten.flatten).toDouble / refCells.length
    }
    def structure(ref: String, hyp: String): Metrics.StructureAcc = {
      val refT = TextNorm.extractTable(ref)
      val hypT = TextNorm.extractTable(hyp)
      val totalRows = refT.map(_.length).sum
      val totalCols = refT.map(t => if (t.nonEmpty) t.head.length else 0).sum
      val totalCells = refT.map(t => if (t.nonEmpty && t.head.nonEmpty) t.length * t.head.length else 0).sum
      if (refT.isEmpty || totalRows == 0 || totalCols == 0) return Metrics.StructureAcc(0.0, 0.0, 0.0)
      var (rows, cols, cells) = (0, 0, 0)
      refT.foreach(rt => hypT.find(_.length == rt.length).foreach(_ => rows += rt.length))
      refT.foreach(rt => hypT.find(ht => rt.nonEmpty && ht.nonEmpty && rt.head.length == ht.head.length)
        .foreach(_ => cols += rt.head.length))
      for (rt <- refT; ht <- hypT if rt.length == ht.length && rt.nonEmpty && ht.nonEmpty; (rr, hr) <- rt.zip(ht))
        if (rr.length == hr.length) cells += rr.length
      Metrics.StructureAcc(rows.toDouble / totalRows, cols.toDouble / totalCols,
        if (totalCells > 0) cells.toDouble / totalCells else 0.0)
    }
  }

  test("evaluateOcr over shared profiles equals the unshared metrics on the normalized sides") {
    import graft.textnorm.TextNorm
    val rnd = new scala.util.Random(13L)
    val edits = Seq("| x | y |\n", "| x |\n", "**", "A ", "Word ", "\n\n", "| --- |\n", "_", "😀", "ΣΑΣ ")
    var tables = 0
    for (i <- 0L until 160L) {
      val p = graft.synth.Synth.page(3L, i)
      val md = graft.extract.Extractor.extract(p.url, p.html).markdown
      def edited() = {
        val sb = new StringBuilder(md)
        for (_ <- 0 until rnd.nextInt(10)) sb.insert(rnd.nextInt(sb.length + 1), edits(rnd.nextInt(edits.length)))
        sb.toString
      }
      val (ref, hyp) = (edited(), edited())
      val (r, h) = (TextNorm.normalize(ref), TextNorm.normalize(hyp))
      val s = Unshared.structure(r, h)
      if (s.rowAccuracy > 0) tables += 1
      assert(Metrics.evaluateOcr(ref, hyp) == Metrics.OcrMetrics(Metrics.cer(r, h), Metrics.wer(r, h),
        Unshared.wordAccuracy(r, h), Unshared.tableAccuracy(r, h), Metrics.sequenceSimilarity(r, h),
        s.rowAccuracy, s.columnAccuracy, s.cellAccuracy), s"page $i")
      assert(Metrics.wordAccuracy(ref, hyp) == Unshared.wordAccuracy(ref, hyp), s"page $i")
      assert(Metrics.tableAccuracy(ref, hyp) == Unshared.tableAccuracy(ref, hyp), s"page $i")
      assert(Metrics.tableStructureAccuracy(ref, hyp) == Unshared.structure(ref, hyp), s"page $i")
    }
    assert(tables > 20, s"only $tables pairs with matched tables")
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
