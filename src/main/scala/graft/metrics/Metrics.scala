package graft.metrics

import graft.textnorm.{PyStr, TextNorm}

import scala.collection.mutable

/** Exact ports of the reference's 8 evaluation metrics
  * (/root/reference/mvp/evaluation/eval.py:145-267), including every
  * zero-guard branch and the multiset (NOT set) overlap semantics.
  */
object Metrics {

  /** Unit-cost Levenshtein distance between two Int symbol sequences:
    * Myers' bit-vector algorithm (J. ACM 1999) in Hyyrö's block form (2003),
    * O(ceil(m/64)·n) word operations with m = the shorter side's length.
    *
    * The shorter side is the pattern. Each 64-symbol block keeps one VP/VN
    * word pair (the vertical +1/-1 deltas of its DP column slice), and the
    * horizontal +1/-1 deltas leaving a block's last row carry into the next
    * block. The pattern-match words (Peq) of symbols in [0, 256) sit in a
    * dense 256 × blocks table; every other symbol is looked up in a small
    * open-addressed map per block, which holds at most 64 keys, so Peq
    * memory is O(m) words for any alphabet.
    */
  def editDistanceSeq(a: Array[Int], b: Array[Int]): Int = {
    val (p, t) = if (a.length <= b.length) (a, b) else (b, a)
    val m = p.length
    if (m == 0) return t.length
    val blocks = (m + 63) >>> 6
    val dense = new Array[Long](256 * blocks)
    // per-block map: 128 slots for at most 64 keys; key 0 marks an empty
    // slot (0 is a dense symbol, so it never enters the map)
    val keys = new Array[Int](blocks << 7)
    val words = new Array[Long](blocks << 7)
    def slot(blk: Int, c: Int): Int = {
      var s = (c * 0x9E3779B9) >>> 25
      while (keys((blk << 7) + s) != 0 && keys((blk << 7) + s) != c) s = (s + 1) & 127
      (blk << 7) + s
    }
    var i = 0
    while (i < m) {
      val c = p(i)
      val bit = 1L << (i & 63)
      if (c >= 0 && c < 256) dense(c * blocks + (i >>> 6)) |= bit
      else { val s = slot(i >>> 6, c); keys(s) = c; words(s) |= bit }
      i += 1
    }
    val vp = Array.fill(blocks)(-1L)
    val vn = new Array[Long](blocks)
    val last = 1L << ((m - 1) & 63)
    var dist = m
    var j = 0
    while (j < t.length) {
      val c = t(j)
      val isDense = c >= 0 && c < 256
      var hpCarry = 1L // the top DP row grows by one per text symbol
      var hnCarry = 0L
      var blk = 0
      while (blk < blocks) {
        val eq = if (isDense) dense(c * blocks + blk) else words(slot(blk, c))
        val pv = vp(blk)
        val nv = vn(blk)
        val x = eq | hnCarry
        val d0 = (((x & pv) + pv) ^ pv) | x | nv
        var hp = nv | ~(d0 | pv)
        var hn = d0 & pv
        val hpIn = hpCarry
        val hnIn = hnCarry
        if (blk == blocks - 1) {
          hpCarry = if ((hp & last) != 0) 1L else 0L
          hnCarry = if ((hn & last) != 0) 1L else 0L
        } else {
          hpCarry = hp >>> 63
          hnCarry = hn >>> 63
        }
        hp = (hp << 1) | hpIn
        hn = (hn << 1) | hnIn
        vp(blk) = hn | ~(d0 | hp)
        vn(blk) = hp & d0
        blk += 1
      }
      dist += (hpCarry - hnCarry).toInt
      j += 1
    }
    dist
  }

  /** CER (eval.py:145-150): both sides Python-stripped; empty ref -> 0.0 if
    * hyp empty else 1.0; else distance / len(ref) (code points). */
  def cer(refIn: String, hypIn: String): Double = {
    val ref = PyStr.strip(refIn)
    val hyp = PyStr.strip(hypIn)
    if (ref.isEmpty) { if (hyp.isEmpty) 0.0 else 1.0 }
    else {
      val r = ref.codePoints().toArray
      val h = hyp.codePoints().toArray
      editDistanceSeq(r, h).toDouble / r.length
    }
  }

  /** WER (eval.py:152-157): whitespace tokenization via Python str.split(). */
  def wer(ref: String, hyp: String): Double = {
    val rw = PyStr.split(ref)
    val hw = PyStr.split(hyp)
    if (rw.isEmpty) { if (hw.isEmpty) 0.0 else 1.0 }
    else {
      // intern both sides' words into dense ids for the Int kernel
      val ids = mutable.HashMap.empty[String, Int]
      def intern(ws: Array[String]): Array[Int] = ws.map(w => ids.getOrElseUpdate(w, ids.size))
      editDistanceSeq(intern(rw), intern(hw)).toDouble / rw.length
    }
  }

  /** Multiset intersection size: sum over keys of min(count_a, count_b). */
  private def multisetOverlap(as: Iterable[String], bs: Iterable[String]): Int = {
    val ca = as.groupMapReduce(identity)(_ => 1)(_ + _)
    val cb = bs.groupMapReduce(identity)(_ => 1)(_ + _)
    ca.iterator.map { case (k, n) => math.min(n, cb.getOrElse(k, 0)) }.sum
  }

  /** word_accuracy (eval.py:159-166): lowercased multiset word overlap / |ref|. */
  def wordAccuracy(ref: String, hyp: String): Double = {
    val rw = PyStr.split(PyStr.lower(ref))
    val hw = PyStr.split(PyStr.lower(hyp))
    if (rw.isEmpty) 0.0
    else multisetOverlap(rw, hw).toDouble / rw.length
  }

  /** table_accuracy (eval.py:184-195): multiset cell overlap / |ref cells|. */
  def tableAccuracy(ref: String, hyp: String): Double = {
    val rt = TextNorm.extractTable(ref)
    if (rt.isEmpty) return 0.0
    val refCells = rt.flatten.flatten
    if (refCells.isEmpty) return 0.0
    val hypCells = TextNorm.extractTable(hyp).flatten.flatten
    multisetOverlap(refCells, hypCells).toDouble / refCells.length
  }

  final case class StructureAcc(rowAccuracy: Double, columnAccuracy: Double, cellAccuracy: Double)

  /** table_structure_accuracy (eval.py:197-240) — including its quirky
    * first-match-with-break pairing and no-break cell loop, reproduced
    * exactly (it can exceed 1.0 when several hyp tables match; that is the
    * reference's behavior and is preserved).
    */
  def tableStructureAccuracy(ref: String, hyp: String): StructureAcc = {
    val refT = TextNorm.extractTable(ref)
    val hypT = TextNorm.extractTable(hyp)
    if (refT.isEmpty) return StructureAcc(0.0, 0.0, 0.0)

    val totalRows = refT.map(_.length).sum
    val totalCols = refT.map(t => if (t.nonEmpty) t.head.length else 0).sum
    val totalCells = refT.map(t => if (t.nonEmpty && t.head.nonEmpty) t.length * t.head.length else 0).sum
    if (totalRows == 0 || totalCols == 0) return StructureAcc(0.0, 0.0, 0.0)

    var matchedRows = 0
    refT.foreach { rt =>
      hypT.find(ht => ht.length == rt.length).foreach(_ => matchedRows += rt.length)
    }

    var matchedCols = 0
    refT.foreach { rt =>
      // eval.py:223 guards `ref_table and hyp_table` inside the scan
      hypT.find(ht => rt.nonEmpty && ht.nonEmpty && rt.head.length == ht.head.length)
        .foreach(_ => matchedCols += rt.head.length)
    }

    var matchedCells = 0
    refT.foreach { rt =>
      hypT.foreach { ht => // NOTE: no break here (eval.py:229-234)
        if (rt.length == ht.length && rt.nonEmpty && ht.nonEmpty) {
          rt.zip(ht).foreach { case (rr, hr) =>
            if (rr.length == hr.length) matchedCells += rr.length
          }
        }
      }
    }

    StructureAcc(
      if (totalRows > 0) matchedRows.toDouble / totalRows else 0.0,
      if (totalCols > 0) matchedCols.toDouble / totalCols else 0.0,
      if (totalCells > 0) matchedCells.toDouble / totalCells else 0.0)
  }

  /** sequence_similarity (eval.py:242-245). */
  def sequenceSimilarity(ref: String, hyp: String): Double =
    SequenceMatcher.ratio(ref, hyp)

  final case class OcrMetrics(
      cer: Double, wer: Double, wordAcc: Double, tableAcc: Double,
      sequenceSimilarity: Double, rowAccuracy: Double, columnAccuracy: Double,
      cellAccuracy: Double)

  /** evaluate_ocr (eval.py:248-267): normalize both sides, then all 8. */
  def evaluateOcr(refRaw: String, hypRaw: String): OcrMetrics = {
    val ref = TextNorm.normalize(refRaw)
    val hyp = TextNorm.normalize(hypRaw)
    val s = tableStructureAccuracy(ref, hyp)
    OcrMetrics(
      cer = cer(ref, hyp),
      wer = wer(ref, hyp),
      wordAcc = wordAccuracy(ref, hyp),
      tableAcc = tableAccuracy(ref, hyp),
      sequenceSimilarity = sequenceSimilarity(ref, hyp),
      rowAccuracy = s.rowAccuracy,
      columnAccuracy = s.columnAccuracy,
      cellAccuracy = s.cellAccuracy)
  }

  /** Failed-row worst-case imputation (eval.py:290-301). */
  val failedRow: OcrMetrics = OcrMetrics(1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
}
