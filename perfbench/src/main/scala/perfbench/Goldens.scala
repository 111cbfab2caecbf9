package perfbench

import graft.synth.Synth.Rng

/** Seeded golden-text generator for the eval workload: a golden markdown is
  * the extracted markdown with word edits (substitute, drop, repeat) and
  * table-row edits (drop, repeat), so every metric in `graft.metrics`
  * scores something between a perfect and a failed match. */
object Goldens {

  /** Chance per word and per table body row that it is edited, in 1/1000. */
  val WordEditPerMille = 60
  val RowEditPerMille = 200

  private val substitutes = Vector("ledger", "quota", "tensor", "pixel", "corpus", "kernel")

  private def isTableRow(line: String) = line.startsWith("|")
  private def isSeparator(line: String) = isTableRow(line) && line.forall(c => "|-: ".indexOf(c) >= 0)

  /** The golden for `markdown` of document `url` under workload `seed`.
    * Header and separator rows of a table are kept, so an edited table is
    * still a table. */
  def edit(seed: Long, url: String, markdown: String): String = {
    val rng = new Rng(seed * 31 + Checksum.fnv(url))
    val lines = markdown.split("\n", -1)
    val out = Vector.newBuilder[String]
    var prevRow = false
    lines.foreach { line =>
      val row = isTableRow(line)
      val header = row && !prevRow
      prevRow = row
      if (row && !header && !isSeparator(line)) {
        val r = rng.nextInt(1000)
        if (r < RowEditPerMille / 2) () // dropped
        else if (r < RowEditPerMille) { out += line; out += line }
        else out += line
      } else if (row) out += line
      else out += line.split(" ", -1).flatMap { w =>
        if (w.isEmpty || rng.nextInt(1000) >= WordEditPerMille) Seq(w)
        else rng.nextInt(3) match {
          case 0 => Seq(substitutes(rng.nextInt(substitutes.length)))
          case 1 => Seq.empty
          case _ => Seq(w, w)
        }
      }.mkString(" ")
    }
    out.result().mkString("\n")
  }
}
