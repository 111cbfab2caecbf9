package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Try

/** What the run saw of the machine: load and CPU steal are sampled before
  * and after, so a run that shared its cores is flagged in its record. */
final case class MachineSample(load1: Double, load5: Double, procsRunning: Int, cpuTicks: Long, stealTicks: Long)

object Machine {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  private def read(p: String): Option[String] = Try(new String(Files.readAllBytes(Paths.get(p)))).toOption

  def sample(): MachineSample = {
    val load = read("/proc/loadavg").map(_.trim.split("\\s+")).getOrElse(Array.empty)
    val stat = read("/proc/stat").map(_.split("\n")).getOrElse(Array.empty)
    val cpu = stat.find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val running = stat.find(_.startsWith("procs_running")).map(_.split("\\s+")(1).toInt).getOrElse(-1)
    MachineSample(
      load1 = Try(load(0).toDouble).getOrElse(-1),
      load5 = Try(load(1).toDouble).getOrElse(-1),
      procsRunning = running,
      // user nice system idle iowait irq softirq steal (guest time is inside user)
      cpuTicks = cpu.take(8).sum,
      stealTicks = if (cpu.length > 7) cpu(7) else 0L)
  }

  /** Share of CPU time the hypervisor gave to others between two samples. */
  def stealShare(a: MachineSample, b: MachineSample): Double = {
    val d = b.cpuTicks - a.cpuTicks
    if (d <= 0) 0.0 else (b.stealTicks - a.stealTicks).toDouble / d
  }

  /** Why the run counts as contended, if it does: more than 5% steal, or
    * more runnable threads than cores before the run began. */
  def contention(before: MachineSample, after: MachineSample): Option[String] = {
    val steal = stealShare(before, after)
    val reasons =
      (if (steal > 0.05) Seq(f"cpu steal ${steal * 100}%.1f%%") else Nil) ++
        (if (before.procsRunning > nproc) Seq(s"${before.procsRunning} runnable threads on $nproc cores at start") else Nil)
    if (reasons.isEmpty) None else Some(reasons.mkString("; "))
  }

  def json(s: MachineSample): String =
    Json.obj("load1" -> s.load1, "load5" -> s.load5, "procs_running" -> s.procsRunning)
}
