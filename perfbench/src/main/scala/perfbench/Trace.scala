package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** One traced interval. `parent` is -1 for a root; spans of one operation
  * share `op` (-1 for spans outside any operation). Times are nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are only written out when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  /** An id for a span recorded later with [[put]], so children recorded
    * first can name it as their parent. */
  def newId(): Int = { val id = next; next += 1; id }

  def put(s: Span): Unit = buf += s

  def add(parent: Int, op: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = newId()
    put(Span(id, parent, op, name, startNs, endNs))
    id
  }

  /** Time `f` as a span; returns its result and the span. */
  def span[A](name: String, op: Int, parent: Int = -1)(f: => A): (A, Span) = {
    val t0 = System.nanoTime()
    val r = f
    val s = Span(newId(), parent, op, name, t0, System.nanoTime())
    put(s)
    (r, s)
  }

  def spans: Seq[Span] = buf.sortBy(_.id).toSeq
}

object Spans {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Task metrics kept per finished task. */
final case class TaskRec(
    runMs: Long, inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
    fetchWaitMs: Long)

/** One finished SQL execution (one Spark action) with what the benchmark
  * reads from it: the tables it scans and writes, the write command's
  * metrics, and its tasks grouped by stage. */
final case class ExecView(
    id: Long, startMs: Long, endMs: Long,
    rootNode: String, scans: Set[String], writes: Option[String],
    writeMetrics: Map[String, Long],
    stages: Map[Int, Seq[TaskRec]]) {
  def tasks: Iterable[TaskRec] = stages.values.flatten
}

/** Listener that gathers SQL executions and task metrics while a traced
  * operation runs. Registered only around traced operations. */
final class SparkCollector extends SparkListener {
  private final class Exec(val id: Long, val startMs: Long) {
    var endMs: Long = -1
    var qe: QueryExecution = _
  }
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart => execs(s.executionId) = new Exec(s.executionId, s.time)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach { x => x.endMs = e.time; x.qe = SparkInternals.queryExecution(e) }
      case _ =>
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    Option(job.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => job.stageIds.foreach(s => stageExec(s) = id.toLong))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null)
      stageTasks.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime)
  }

  /** Every finished execution since the last call, in start order. Call
    * after [[SparkInternals.drainListenerBus]]. */
  def take(): Seq[ExecView] = synchronized {
    val done = execs.values.filter(_.endMs >= 0).toVector
    done.foreach(x => execs.remove(x.id))
    val views = done.map { x =>
      val stages = stageExec.collect { case (s, e) if e == x.id => s }.toSeq
      val tasks = stages.map(s => s -> stageTasks.remove(s).map(_.toSeq).getOrElse(Nil)).toMap
      stages.foreach(stageExec.remove)
      val nodes = if (x.qe == null) Nil else PlanNodes.all(x.qe.executedPlan)
      val scans = nodes.collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      }.flatten.toSet
      val write = nodes.collectFirst {
        case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
          (w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.getName,
            w.cmd.metrics.map { case (k, v) => k -> v.value })
      }
      ExecView(x.id, x.startMs, x.endMs, nodes.headOption.map(_.nodeName).getOrElse("?"), scans, write.map(_._1),
        write.map(_._2).getOrElse(Map.empty), tasks)
    }
    // tasks of jobs outside any SQL execution (file listing) are dropped
    stageExec.clear()
    stageTasks.clear()
    views
  }
}

object PlanNodes {
  /** Every physical node, descending into adaptive final plans and query
    * stages (which `SparkPlan.collect` does not enter). */
  def all(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
      case _                        => Nil
    }
    p +: (p.children ++ inner).flatMap(all)
  }
}
