package perfbench

import graft.extract.ExtractJob

/** Turns the Spark executions of one traced operation into spans and
  * per-layer values. */
object Layers {

  /** Which `ExtractJob.run` action (or other Spark action) an execution
    * is, told apart by the tables it writes and scans. */
  def label(e: ExecView): String = e.writes match {
    case Some(ExtractJob.ResultsTable)  => "job.results_write"
    case Some(ExtractJob.LineageTable)  => "job.lineage"
    case Some(ExtractJob.ManifestTable) => "job.manifest_append"
    case Some(t)                        => s"sql.write.$t"
    case None if e.scans(ExtractJob.ManifestTable) => "job.manifest_read"
    case None if e.scans("pages")                  => "job.todo_parts"
    case None if e.scans(ExtractJob.ResultsTable)  => "job.summary"
    case None if e.scans.nonEmpty => s"sql.read.${e.scans.toSeq.sorted.mkString("+")}"
    case None => s"sql.other.${e.rootNode}"
  }

  /** Records the executions as spans under the operation's root (or under
    * the section that was open when they started) and returns the op's
    * layer values. The root span must already be recorded. */
  def ofOp(
      execs: Seq[ExecView], tracer: Tracer, root: Int, op: Int, sections: Seq[Span],
      nanoMinusEpochNs: Long, mainTable: String, docs: Long): Map[String, Double] = {
    execs.foreach { e =>
      val s = e.startMs * 1000000L + nanoMinusEpochNs
      val parent = sections.find(x => x.startNs <= s && s <= x.endNs).map(_.id).getOrElse(root)
      tracer.add(parent, op, label(e), s, e.endMs * 1000000L + nanoMinusEpochNs)
    }
    val tasks = execs.flatMap(_.tasks)
    val writes = execs.filter(_.writes.isDefined)
    def wsum(k: String) = writes.map(_.writeMetrics.getOrElse(k, 0L)).sum.toDouble
    val mainStage = execs.filter(_.writes.contains(mainTable)).flatMap(_.stages.values)
      .filter(_.nonEmpty).sortBy(-_.length).headOption.getOrElse(Nil)
    val opSpans = tracer.spans.filter(_.op == op)
    val self = Spans.selfTimes(opSpans)
    val bytesRead = tasks.map(_.inputBytes).sum.toDouble
    val actions = execs.groupBy(label).collect {
      case (l, es) if l.startsWith("job.") => s"${l}_s" -> es.map(e => e.endMs - e.startMs).sum / 1e3
    }
    actions ++ sections.map(s => s"${s.name}_s" -> s.durNs / 1e9) ++ Map(
      "scan.bytes_read" -> bytesRead,
      "scan.bytes_per_done_doc" -> (if (docs > 0) bytesRead / docs else 0.0),
      "exchange.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "exchange.shuffle_write_s" -> tasks.map(_.shuffleWriteNs).sum / 1e9,
      "exchange.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "exchange.task_skew" -> (if (mainStage.isEmpty) 0.0 else Stats.skew(mainStage.map(_.runMs.toDouble))),
      "write.files" -> wsum("numFiles"),
      "write.bytes" -> wsum("numOutputBytes"),
      "write.records" -> wsum("numOutputRows"),
      "write.task_run_s" -> mainStage.map(_.runMs).sum / 1e3,
      "write.task_commit_s" -> wsum("taskCommitTime") / 1e3,
      "write.job_commit_s" -> wsum("jobCommitTime") / 1e3,
      "op.driver_self_s" -> self(root) / 1e9)
  }
}
