package graft.metrics

import scala.collection.mutable

/** From-scratch reimplementation of the Ratcliff/Obershelp similarity with
  * CPython-difflib-compatible semantics, because the reference scores with
  * `difflib.SequenceMatcher(None, ref, hyp).ratio()`
  * (/root/reference/mvp/evaluation/eval.py:242-245).
  *
  * The sequences are code points, the elements of a Python `str`, so an
  * astral symbol is one element. Matches CPython's documented behavior
  * including **autojunk**: when `len(b) >= 200`, elements occurring more
  * than `len(b)//100 + 1` times in `b` are "popular" and cannot *seed* a
  * longest match, but can still extend one at its edges. isjunk is None (as
  * in the reference call), so the junk set proper is empty.
  */
final class SequenceMatcher(a: Array[Int], b: Array[Int]) {
  private val lb = b.length

  // b2j: element -> ascending positions in b, minus popular elements (null);
  // code points below 256 also index an array
  private val b2j: mutable.LongMap[Array[Int]] = {
    val at = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    for (j <- 0 until lb) at.getOrElseUpdate(b(j), new mutable.ArrayBuilder.ofInt) += j
    at.mapValuesNow(_.result()).filter { case (_, js) => lb < 200 || js.length <= lb / 100 + 1 }
  }
  private val low = Array.tabulate(256)(b2j.getOrNull(_))

  // CPython's per-row j2len/newj2len dicts as two reusable arrays indexed by
  // j + 1 (so j - 1 = -1 reads slot 0), each with the list of slots it set;
  // a row's slots are zeroed once the next row has read them
  private var j2len = new Array[Int](lb + 1)
  private var newj2len = new Array[Int](lb + 1)
  private var touched = new Array[Int](lb)
  private var newTouched = new Array[Int](lb)

  private def clearJ2len(n: Int): Unit = {
    var t = 0
    while (t < n) { j2len(touched(t)) = 0; t += 1 }
  }

  /** (besti, bestj, bestsize) — CPython find_longest_match with empty bjunk. */
  def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    var besti = alo
    var bestj = blo
    var bestsize = 0
    var nTouched = 0
    var i = alo
    while (i < ahi) {
      var nNew = 0
      val idxs = if (a(i) < 256) low(a(i)) else b2j.getOrNull(a(i))
      var p = 0
      var break = false
      while (idxs != null && p < idxs.length && !break) {
        val j = idxs(p)
        if (j < blo) p += 1
        else if (j >= bhi) break = true
        else {
          val k = j2len(j) + 1
          newj2len(j + 1) = k
          newTouched(nNew) = j + 1
          nNew += 1
          if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          p += 1
        }
      }
      clearJ2len(nTouched)
      val l = j2len; j2len = newj2len; newj2len = l
      val tl = touched; touched = newTouched; newTouched = tl
      nTouched = nNew
      i += 1
    }
    clearJ2len(nTouched)
    // edge extension (bjunk is empty so the non-junk loops are the only ones
    // that can fire; the junk loops are no-ops and omitted)
    while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) { besti -= 1; bestj -= 1; bestsize += 1 }
    while (besti + bestsize < ahi && bestj + bestsize < bhi && a(besti + bestsize) == b(bestj + bestsize)) bestsize += 1
    (besti, bestj, bestsize)
  }

  /** Sum of matching-block sizes (all `ratio` needs). */
  def totalMatches: Int = {
    var total = 0
    val queue = mutable.Stack[(Int, Int, Int, Int)]((0, a.length, 0, lb))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = findLongestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        total += k
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    total
  }

  /** difflib ratio(): 2*M / (len(a)+len(b)); 1.0 when both empty. */
  def ratio: Double = {
    val length = a.length + lb
    if (length == 0) 1.0 else 2.0 * totalMatches / length
  }
}

object SequenceMatcher {
  def ratio(a: String, b: String): Double = new SequenceMatcher(a.codePoints().toArray, b.codePoints().toArray).ratio
}
