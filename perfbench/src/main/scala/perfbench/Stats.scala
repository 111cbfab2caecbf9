package perfbench

/** Order statistics for timing samples. */
object Stats {

  /** Linearly interpolated quantile (`q` in [0, 1]) of a non-empty sample,
    * the same rule as numpy's default and Python's `statistics.quantiles`
    * with `method="inclusive"`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A timing summary: the sample count, the median, and the highest whole
    * percentile that still has at least ten samples beyond it (absent when
    * the sample is too small for that percentile to reach the median). */
  final case class Summary(n: Int, p50: Double, tailPct: Option[Int], tail: Option[Double])

  def summary(xs: Seq[Double]): Summary =
    if (xs.isEmpty) Summary(0, Double.NaN, None, None)
    else {
      val tail = (99 to 50 by -1).iterator
        .map(p => (p, quantile(xs, p / 100.0)))
        .find { case (_, v) => xs.count(_ > v) >= 10 }
      Summary(xs.length, median(xs), tail.map(_._1), tail.map(_._2))
    }

  /** Largest over median: 1.0 for perfectly even task times. */
  def skew(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (m <= 0) 1.0 else xs.max / m
  }
}

/** Order-free checksum over (url, markdown) pairs: the wrapping 64-bit sum
  * of a per-pair FNV-1a hash. A sum (not xor) so that a duplicated pair
  * changes the checksum instead of cancelling out. */
object Checksum {
  private val Offset = 0xcbf29ce484222325L
  private val Prime = 0x100000001b3L

  private def mix(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * Prime; i += 1 }
    h
  }

  private def mixByte(h: Long, b: Int): Long = (h ^ b) * Prime

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Hash of one pair. 0xff never occurs in UTF-8, so it separates the
    * fields unambiguously; a null markdown hashes apart from "". */
  def pair(url: String, markdown: String): Long = {
    var h = mix(Offset, url.getBytes(Utf8))
    h = mixByte(h, 0xff)
    if (markdown == null) mixByte(h, 0xfe) else mix(h, markdown.getBytes(Utf8))
  }

  def of(pairs: Iterable[(String, String)]): Long =
    pairs.foldLeft(0L) { case (acc, (u, m)) => acc + pair(u, m) }

  /** FNV-1a of a string, for seeding per-url generators. */
  def fnv(s: String): Long = mix(Offset, s.getBytes(Utf8))
}
