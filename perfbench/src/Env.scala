package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Run-environment record: enough to tell a dirty window (hypervisor
  * steal, a concurrent JVM, a busy box, GC) from the artifact alone.
  * Same sources as `graft.Bench`: `/proc/stat`, `/proc/loadavg` and
  * `ProcessHandle`.
  */
object Env {
  /** (steal, busy) jiffies of the aggregate cpu line, busy = user+nice+system+steal. */
  def cpuStat(): (Long, Long) =
    try {
      val v = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      val steal = if (v.length > 7) v(7) else 0L
      (steal, v(0) + v(1) + v(2) + steal)
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Java processes other than this JVM and its ancestors. */
  def unrelatedJvms(): Long =
    try {
      val family = Iterator.iterate(Option(ProcessHandle.current()))(
        _.flatMap(p => Option(p.parent().orElse(null))))
        .takeWhile(_.isDefined).take(10).map(_.get.pid).toSet
      ProcessHandle.allProcesses().iterator().asScala.count { p =>
        !family.contains(p.pid) &&
          p.info().command().map[Boolean](_.contains("java")).orElse(false)
      }.toLong
    } catch { case _: Exception => -1L }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  final case class Mark(steal: Long, busy: Long, gcMs: Long)
  def mark(): Mark = { val (s, b) = cpuStat(); Mark(s, b, gcMs()) }

  /** JSON object describing the window between `from` and now. */
  def record(from: Mark, jvmsAtStart: Long, loadAtStart: Double): String = {
    val to = mark()
    val busy = to.busy - from.busy
    val stealPct = if (busy <= 0) 0.0 else 100.0 * (to.steal - from.steal) / busy
    val load = loadAvg()
    val cpus = Runtime.getRuntime.availableProcessors
    val dirty = stealPct >= 5.0 || jvmsAtStart > 0 || loadAtStart > cpus
    s"""{"cpus":$cpus,"steal_pct":$stealPct,"loadavg_start":$loadAtStart,""" +
      s""""loadavg_end":$load,"unrelated_jvms":$jvmsAtStart,""" +
      s""""gc_ms":${to.gcMs - from.gcMs},"dirty_window":$dirty}"""
  }
}
