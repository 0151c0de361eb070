package perfbench

import scala.collection.mutable

import graft.meta.DataFile
import graft.table.{GraftCatalog, GraftTable, TableIdent}

import org.apache.hadoop.fs.GlobalStorageStatistics
import org.apache.spark.sql.{Row, SparkSession}

/** Shared state of one run: the session, the catalog handle, the tracer
  * and everything measured. Workloads call into the program only through
  * [[op]], [[query]] and [[command]], so every timed call is counted,
  * checked and (when tracing) wrapped in a span.
  */
final class Ctx(val spark: SparkSession, val cat: GraftCatalog, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Latency samples (ms) per operation type, timed operations only. */
  val lat = mutable.LinkedHashMap.empty[String, Samples]
  /** Wall (ms) of each closed-loop cycle. */
  val cycles = new Samples
  var opWallNs = 0L
  var timedOps = 0L
  var rowsWritten = 0L
  /** When false, operations run and are checked but not sampled (warm-up). */
  var timing = false
  /** Per-layer counters, filled only when tracing. */
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def count(name: String, v: Double): Unit = counters(name) += v

  def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$kind: $msg"
    System.err.println(s"perfbench: FAILED $kind: $msg")
  }

  /** Checks `cond`, counting a mismatch as a failed operation. */
  def expect(kind: String, cond: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!cond) fail(kind, msg)
  }

  /** Main-table version when timing started, for the commit count. */
  var startVersion = 0
  var gcAtStart = 0L
  var diskAtStart = 0L
  var mainTable: TableIdent = _
  /** Directory holding every table of the workload. */
  var nsDir: java.nio.file.Path = _

  /** Ends warm-up: from here on operations are sampled and traced. */
  def startTiming(): Unit = {
    timing = true
    tracer.reset()
    startVersion = cat.load(mainTable).current().map(_.version).getOrElse(0)
    gcAtStart = Env.gcMs()
    diskAtStart = duBytes(nsDir)
  }

  /** Records one timed operation of type `kind` that the caller timed. */
  def sample(kind: String, startNs: Long, endNs: Long): Unit =
    if (timing) {
      lat.getOrElseUpdate(kind, new Samples).add((endNs - startNs) / 1e6)
      opWallNs += endNs - startNs
      timedOps += 1
    }

  /** Bytes read through Hadoop filesystems, over all schemes. The local
    * filesystem counts bytes but not read operations.
    */
  private def fsBytesRead(): Long = {
    var n = 0L
    val it = GlobalStorageStatistics.INSTANCE.iterator()
    while (it.hasNext) { val v = it.next().getLong("bytesRead"); if (v != null) n += v.longValue }
    n
  }

  /** Runs one operation: times `body`, then checks its result with
    * `check` outside the timed region. An exception or a failed check
    * counts as a failed operation. Returns the wall in ns.
    */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Long = {
    attempted += 1
    val read0 = if (tracer.enabled) fsBytesRead() else 0L
    val id = tracer.beginOp(kind)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    tracer.endOp(id, kind, t0, t1)
    sample(kind, t0, t1)
    if (tracer.enabled && timing) count("fs_bytes_read", (fsBytesRead() - read0).toDouble)
    r match {
      case Left(e) => fail(kind, e.toString)
      case Right(v) =>
        try check(v).foreach(m => fail(kind, m))
        catch { case scala.util.control.NonFatal(e) => fail(kind, s"check threw $e") }
    }
    t1 - t0
  }

  /** A SQL query: planned, then executed, as two spans. */
  def query(sql: String): Array[Row] = {
    val df = tracer.span("connector.plan", "connector") {
      val d = spark.sql(sql)
      d.queryExecution.executedPlan
      d
    }
    tracer.span("connector.execute", "connector")(df.collect())
  }

  /** A SQL statement that runs when issued (INSERT, DELETE, CALL). */
  def command(sql: String): Array[Row] =
    tracer.span("connector.command", "connector")(spark.sql(sql).collect())

  // ---- table-layer counters, read outside the timed region -----------

  private val watched = mutable.Map.empty[TableIdent, (GraftTable, Map[String, DataFile])]

  /** Starts watching `ident` with a handle the benchmark holds. */
  def watch(ident: TableIdent): Unit =
    if (tracer.enabled) {
      val t = cat.load(ident)
      watched(ident) = (t, t.current().map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty))
    }

  /** After a write: files and bytes added since the last call, the rows
    * they hold (rewrites included) against the user rows submitted, and
    * the manifests the held handle had to parse to see the new snapshot.
    */
  def afterWrite(ident: TableIdent, userRows: Long, prefix: String = "table"): Unit =
    watched.get(ident).foreach { case (t, before) =>
      val p0 = t.log.manifestParses.get()
      val now = t.current().map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
      watched(ident) = (t, now)
      if (timing) {
        count("meta.manifest_parses", (t.log.manifestParses.get() - p0).toDouble)
        val added = (now.keySet -- before.keySet).toSeq
        count(s"$prefix.files_added", added.size.toDouble)
        count(s"$prefix.bytes_added", added.map(now(_).sizeBytes).sum.toDouble)
        count(s"$prefix.rows_added", added.map(now(_).rows).sum.toDouble)
        count(s"$prefix.user_rows", userRows.toDouble)
        count(s"$prefix.writes", 1.0)
      }
    }

  /** Before a read: files a predicate keeps against live files. */
  def beforeRead(ident: TableIdent, pred: Option[String]): Unit =
    if (tracer.enabled && timing) {
      val t = cat.load(ident)
      val live = t.current().map(_.files.count(_.rows > 0)).getOrElse(0)
      val kept = pred.map(t.prunedFiles(_).size).getOrElse(live)
      count("table.reads", 1.0)
      count("table.files_scanned", kept.toDouble)
      count("table.files_live_at_read", live.toDouble)
    }

  /** Bytes of all regular files under `dir`. */
  def duBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
