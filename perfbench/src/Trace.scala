package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Latency samples of one operation type within one run. */
final class Samples {
  private val buf = ArrayBuffer.empty[Double]
  def add(v: Double): Unit = buf += v
  def n: Int = buf.size
  def values: Seq[Double] = buf.toSeq

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def q(p: Double): Double =
    if (buf.isEmpty) Double.NaN
    else {
      val s = buf.sorted
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** One traced interval. `parent` is 0 for an operation root; `op` is
  * the operation the span belongs to (its root's id), shared by every
  * span of one operation, Spark-job spans included.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job seen by the listener, attributed to an operation by
  * the job group the benchmark set around it.
  */
final case class JobRec(jobId: Int, group: String, startMs: Long,
                        var endMs: Long = -1L, var tasks: Int = 0,
                        var inputBytes: Long = 0L, var shuffleBytes: Long = 0L)

/** Records spans around the benchmark's calls into each layer, plus the
  * Spark jobs beneath them. Disabled, every entry point reduces to one
  * flag check and the listener is never registered, so the untraced
  * runs measure the program alone.
  */
final class Tracer(val enabled: Boolean, val runId: String, spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, Int]
  private var nextId = 0L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  private val sc = spark.sparkContext

  // Spark event times are wall-clock ms; spans use nanoTime. One fixed
  // offset taken at construction maps the former onto the latter.
  private val nsMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Drops everything recorded so far (warm-up). */
  def reset(): Unit = if (enabled) {
    org.apache.spark.BenchShim.drainListeners(sc)
    spans.clear()
    jobs.synchronized { jobs.clear(); stageToJob.clear() }
  }

  /** Opens an operation root span and tags the Spark jobs it starts. */
  def beginOp(kind: String): Long = {
    if (!enabled) return 0L
    nextId += 1
    stack = (nextId, nextId) :: Nil
    sc.setJobGroup(s"op-$nextId", kind, interruptOnCancel = false)
    nextId
  }

  def endOp(id: Long, kind: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(id, 0L, id, s"op.$kind", "op", startNs, endNs)
      sc.clearJobGroup()
      stack = Nil
    }

  /** A child span of operation `op` whose interval was timed by the caller. */
  def child(op: Long, name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (enabled) { nextId += 1; spans += Span(nextId, op, op, name, layer, startNs, endNs) }

  /** A named child span of the innermost open span. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled || stack.isEmpty) f
    else {
      nextId += 1
      val id = nextId
      val (parent, op) = stack.head
      stack = (id, op) :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, op, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Waits for the listener bus, then turns every job into a child span
    * of the innermost span of its operation that contains it.
    */
  def finish(): Seq[JobRec] = {
    if (!enabled) return Nil
    org.apache.spark.BenchShim.drainListeners(sc)
    sc.removeSparkListener(listener)
    val recs = jobs.synchronized(jobs.values.filter(_.endMs > 0).toVector)
    val byOp = spans.groupBy(_.op)
    for (j <- recs if j.group.startsWith("op-")) {
      val op = j.group.stripPrefix("op-").toLong
      val s = j.startMs * 1000000L + nsMinusMs
      val e = j.endMs * 1000000L + nsMinusMs
      val parent = byOp.getOrElse(op, Nil)
        .filter(sp => sp.startNs - 1000000L <= s && s <= sp.endNs + 1000000L)
        .sortBy(sp => (sp.endNs - sp.startNs, -sp.id)).headOption.map(_.id).getOrElse(op)
      nextId += 1
      spans += Span(nextId, parent, op, s"spark.job${j.jobId}", "spark", s, e)
    }
    recs
  }

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) { if (curE > curS) total += curE - curS; curS = s0; curE = e0 }
      else curE = math.max(curE, e0)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfNs(): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
      s.id -> ((s.endNs - s.startNs) - covered(ch, s.startNs, s.endNs))
    }.toMap
  }

  /** Writes all spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
