package perfbench

/** Unit tests of the benchmark's own helpers. Run with
  * `python3 perfbench/build.py test`; exits non-zero on the first failure. */
object HelpersTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  threw $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"}  $name")
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // quantiles agree with Python's statistics.quantiles(method="inclusive")
    check("quartiles of 1..4 are 1.75, 2.5, 3.25") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      near(Stats.quantile(xs, 0.25), 1.75) && near(Stats.median(xs), 2.5) && near(Stats.quantile(xs, 0.75), 3.25)
    }
    check("quantile ends are min and max") {
      val xs = Seq(5.0, 9.0, 7.0)
      Stats.quantile(xs, 0) == 5.0 && Stats.quantile(xs, 1) == 9.0
    }
    check("quantile of an empty sample is refused") {
      scala.util.Try(Stats.quantile(Nil, 0.5)).isFailure
    }
    check("summary: too few samples for a tail percentile") {
      val s = Stats.summary((1 to 15).map(_.toDouble))
      s.n == 15 && near(s.p50, 8) && s.tailPct.isEmpty && s.tail.isEmpty
    }
    check("summary: tail percentile keeps at least ten samples beyond it") {
      Seq(20, 100, 1000, 1234).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val s = Stats.summary(xs)
        val beyond = xs.count(_ > s.tail.get)
        s.n == n && beyond >= 10 && s.tailPct.get >= 50 &&
          (s.tailPct.get == 99 || xs.count(_ > Stats.quantile(xs, (s.tailPct.get + 1) / 100.0)) < 10)
      }
    }
    check("summary: 1000 samples report p99") {
      Stats.summary((1 to 1000).map(_.toDouble)).tailPct.contains(99)
    }
    check("skew is max over median") {
      near(Stats.skew(Seq(1.0, 1.0, 1.0, 4.0)), 4.0) && near(Stats.skew(Seq(2.0, 2.0)), 1.0)
    }

    // self time
    val spans = Seq(
      Span(0, -1, 1, "op", 0, 100),
      Span(1, 0, 1, "a", 10, 30),
      Span(2, 0, 1, "b", 20, 50),  // overlaps a
      Span(3, 0, 1, "c", 90, 120), // runs past its parent
      Span(4, 1, 1, "a.x", 12, 18))
    val self = Spans.selfTimes(spans)
    check("self time subtracts the union of children, clipped to the parent") { self(0) == 50 }
    check("self time of a span with a child") { self(1) == 14 }
    check("self time of leaves is their duration") { self(2) == 30 && self(3) == 30 && self(4) == 6 }
    check("self time of a lone root") { Spans.selfTimes(Seq(Span(0, -1, -1, "r", 5, 9)))(0) == 4 }

    // reference checksum
    val pairs = Seq("u1" -> "alpha", "u2" -> "beta", "u3" -> "")
    check("checksum ignores row order") { Checksum.of(pairs) == Checksum.of(pairs.reverse) }
    check("checksum sees a changed markdown") { Checksum.of(pairs) != Checksum.of(pairs.updated(1, "u2" -> "betA")) }
    check("checksum sees where url ends and markdown begins") { Checksum.pair("ab", "c") != Checksum.pair("a", "bc") }
    check("checksum: a duplicated row does not cancel") {
      Checksum.of(pairs :+ pairs.head) != Checksum.of(pairs.tail) && Checksum.of(pairs :+ pairs.head) != Checksum.of(pairs)
    }
    check("checksum: null markdown differs from empty") { Checksum.pair("u", null) != Checksum.pair("u", "") }
    check("checksum of nothing is 0") { Checksum.of(Nil) == 0L }

    // golden edits
    val md = (Seq("# Title of the page") ++
      (1 to 30).map(i => s"Paragraph $i has some words in it that can be edited by the generator.") ++
      Seq("| Col A | Col B |", "| --- | --- |") ++ (1 to 40).map(i => s"| $i | ${i * 7} |")).mkString("\n")
    val g1 = Goldens.edit(42L, "https://h/a.html", md)
    check("golden edits are deterministic") { g1 == Goldens.edit(42L, "https://h/a.html", md) }
    check("golden edits change the text") { g1 != md }
    check("golden edits depend on the seed and the url") {
      g1 != Goldens.edit(43L, "https://h/a.html", md) && g1 != Goldens.edit(42L, "https://h/b.html", md)
    }
    check("golden edits keep the table header and separator") {
      g1.contains("| Col A | Col B |\n| --- | --- |")
    }
    check("golden edits only drop or repeat table rows") {
      val rows = md.split("\n").filter(_.startsWith("|")).toSet
      g1.split("\n").filter(_.startsWith("|")).forall(rows.contains) &&
        g1.split("\n").count(_.startsWith("|")) != md.split("\n").count(_.startsWith("|"))
    }
    check("golden edits touch a bounded share of words") {
      val a = md.split("\\s+").length
      val b = g1.split("\\s+").length
      math.abs(a - b) < a * 0.2
    }
    check("golden edit of empty text is empty") { Goldens.edit(1L, "u", "") == "" }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
