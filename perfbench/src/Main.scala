package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graft.table.GraftCatalog

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one fresh JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --run-dir <dir> [--smoke 1] [--digest <cycles>]
  *
  * Prints a human-readable report, an `env` line and, last, one JSON
  * line: `{"correct", "attempted", "failed", "metrics"}` holding the
  * end-to-end metrics (untraced) or the per-layer metrics (traced).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: Path, smoke: Boolean, digest: Option[Int])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv.getOrElse("run-dir", ".")),
      kv.getOrElse("smoke", "0") == "1", kv.get("digest").map(_.toInt))
  }

  /** SHA-256 of the generated inputs; the JVM-free identity check. */
  def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def session(a: Args): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors).toString
    val dir = a.runDir.toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.connector.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", dir.resolve("wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload(a.workload, a.seed, a.smoke)
    a.digest.foreach { n => println(digest(wl.inputText(n))); return }

    val jvms0 = Env.unrelatedJvms()
    val load0 = Env.loadAvg()
    val mark0 = Env.mark()
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secs(t0)

    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "plain"}-${ProcessHandle.current().pid}"
    val cat = GraftCatalog(spark, a.runDir.toAbsolutePath.resolve("wh").toString)
    val ctx = new Ctx(spark, cat, new Tracer(a.trace, runId, spark))
    // setup_s: session start plus one build of the seed tables. Being
    // the first Spark work of the JVM, the build also carries the JVM's
    // and Spark's warm-up.
    val b0 = System.nanoTime()
    wl.setup(ctx, "pb")
    val buildS = secs(b0)
    val setupS = sessionS + buildS
    val wh = a.runDir.toAbsolutePath.resolve("wh")
    ctx.mainTable = wl.mainTable
    ctx.nsDir = wh.resolve(wl.mainTable.namespace)

    wl.run(ctx, a.seconds)
    val gcMs = Env.gcMs() - ctx.gcAtStart
    val jobs = ctx.tracer.finish()
    try wl.verify(ctx)
    catch { case scala.util.control.NonFatal(e) => ctx.attempted += 1; ctx.fail("verify", e.toString) }

    // Storage growth, data plus metadata, per user row written while
    // timed: independent of how many cycles fit in the run.
    val diskGrowth = ctx.duBytes(ctx.nsDir) - ctx.diskAtStart
    val opWallS = ctx.opWallNs / 1e9
    def p50(kind: String) = ctx.lat.get(kind).map(_.q(0.5)).getOrElse(Double.NaN)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ctx.timedOps / opWallS, "op/s"),
      ("rows_per_s", ctx.rowsWritten / opWallS, "rows/s"),
      ("write_p50_ms", p50(wl.writeKind), "ms"),
      ("read_p50_ms", p50(wl.readKind), "ms"),
      ("disk_bytes_per_row", diskGrowth.toDouble / ctx.rowsWritten, "B/row"))

    val layers = if (a.trace) Layers.metrics(ctx, wl, jobs, gcMs, wh) else Nil

    // human-readable report: every operation type by name, p90 only
    // where the run holds at least 100 samples of it
    println(f"perfbench ${a.workload} seed=${a.seed} trace=${a.trace} timed_ops=${ctx.timedOps} " +
      f"cycles=${ctx.cycles.n} setup_build_s=$buildS%.3f session_s=$sessionS%.3f")
    for ((kind, s) <- ctx.lat.toSeq :+ ("cycle" -> ctx.cycles)) {
      val p90 = if (s.n >= 100) f"${s.q(0.9)}%.2f ms" else "n/a (<100 samples)"
      println(f"  ${kind}_p50_ms=${s.q(0.5)}%.2f ms  ${kind}_p90_ms=$p90  n=${s.n}")
    }
    val errorRate = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    println(f"  error_rate=$errorRate%.4f fraction (${ctx.failed} of ${ctx.attempted})")
    val extra = if (a.trace) Layers.maintenance(ctx) else Nil
    for ((n, v, u) <- e2e ++ layers ++ extra) println(s"  $n=$v $u")
    ctx.errors.foreach(e => println(s"  error: $e"))
    val env = Env.record(mark0, jvms0, load0)
    println(s"env $env")

    ctx.tracer.write(a.runDir.resolve("spans.jsonl"))
    val shown = if (a.trace) layers else e2e
    val metrics = shown.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val ok = ctx.failed == 0 && ctx.attempted > 0 && shown.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val samples = (ctx.lat.toSeq :+ ("cycle" -> ctx.cycles)).map { case (k, v) =>
      s""""$k":[${v.values.map(num).mkString(",")}]""" }.mkString(",")
    val line = s"""{"correct":$ok,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}"""
    Files.writeString(a.runDir.resolve("result.json"),
      s"""{"run":"$runId","env":$env,"input_sha256":"${digest(wl.inputText(3))}",""" +
        s""""samples_ms":{$samples},"result":$line}""" + "\n")
    spark.stop()
    println(line)
  }

  /** JSON number; NaN and infinities (an operation type with no samples)
    * become -1 and make the run incorrect above.
    */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString
}
