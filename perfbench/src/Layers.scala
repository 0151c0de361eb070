package perfbench

import java.nio.file.Path

/** Per-layer metrics of a traced run, all measured from outside the
  * program: spans the benchmark opened around its calls into each layer,
  * Spark jobs attributed by job group, snapshot file lists, public
  * counters and directory sizes.
  */
object Layers {
  def metrics(ctx: Ctx, wl: Workload, jobs: Seq[JobRec], gcMs: Long,
              wh: Path): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val c = ctx.counters
    def per(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    val ops = tr.spans.filter(_.parent == 0L)
    val opNs = ops.map(s => s.endNs - s.startNs).sum.toDouble
    val byOp = tr.spans.groupBy(_.op)
    val kidsOf = tr.spans.groupBy(_.parent)
    def layerNs(layer: String) =
      tr.spans.filter(_.layer == layer).map(s => s.endNs - s.startNs).sum.toDouble

    // Spark jobs: per operation, the union of job intervals; the rest of
    // the operation's wall is driver time between jobs.
    val jobSpans = tr.spans.filter(_.layer == "spark")
    val jobUnionNs = ops.map { o =>
      tr.covered(byOp(o.id).filter(_.layer == "spark").map(s => (s.startNs, s.endNs)).toSeq,
        o.startNs, o.endNs)
    }.sum.toDouble
    val opJobs = jobs.filter(_.group.startsWith("op-"))

    // Coverage: the share of each operation's wall its named child spans cover.
    val coverage = ops.map { o =>
      per(tr.covered(kidsOf.getOrElse(o.id, Nil).map(s => (s.startNs, s.endNs)).toSeq,
        o.startNs, o.endNs).toDouble, (o.endNs - o.startNs).toDouble)
    }
    val self = tr.selfNs()
    def selfFrac(layer: String) =
      per(tr.spans.filter(_.layer == layer).map(s => self(s.id)).sum.toDouble, opNs)

    val refreshOps = ops.filter(_.name == "op.refresh").map(_.id).toSet
    val plans = tr.spans.filter(_.name == "connector.plan")

    val main = ctx.cat.load(wl.mainTable)
    val snap = main.current()
    val coldMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      ctx.cat.load(wl.mainTable).current()
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(2)
    val metaDir = wh.resolve(wl.mainTable.namespace).resolve(wl.mainTable.name).resolve("_meta")

    Seq(
      ("loader.flushes", tr.spans.count(_.layer == "loader").toDouble, "count"),
      ("loader.rows", c("loader.rows"), "rows"),
      ("loader.busy_frac", per(layerNs("loader"), opNs), "fraction"),
      ("table.files_added_per_write", per(c("table.files_added"), c("table.writes")), "files"),
      ("table.bytes_added_per_write", per(c("table.bytes_added"), c("table.writes")), "B"),
      ("table.write_amp", per(c("table.rows_added") + c("maintain.rows_added"),
        c("table.user_rows") + c("maintain.user_rows")), "ratio"),
      ("table.files_live", snap.map(_.files.size.toDouble).getOrElse(0.0), "files"),
      ("table.files_scanned_per_read", per(c("table.files_scanned"), c("table.reads")), "files"),
      ("table.pruned_frac", 1.0 - per(c("table.files_scanned"), c("table.files_live_at_read")), "fraction"),
      ("meta.commits", (snap.map(_.version).getOrElse(0) - ctx.startVersion).toDouble, "count"),
      ("meta.snapshots_live", main.snapshots().size.toDouble, "count"),
      ("meta.manifests_live", snap.map(_.fileGroups.size.toDouble).getOrElse(0.0), "count"),
      ("meta.manifest_parses_per_write", per(c("meta.manifest_parses"),
        c("table.writes") + c("maintain.writes")), "count"),
      ("meta.cold_load_ms", coldMs, "ms"),
      ("meta.fs_bytes_read_per_op", per(c("fs_bytes_read"), ops.size), "B"),
      ("meta.metadata_bytes", ctx.duBytes(metaDir).toDouble, "B"),
      ("connector.plan_ms_per_stmt", per(plans.map(_.ms).sum, plans.size), "ms"),
      ("connector.refresh_incremental_frac",
        per(c("connector.refreshes_incremental"), c("connector.refreshes")), "fraction"),
      ("connector.refresh_jobs", per(jobSpans.count(s => refreshOps(s.op)), c("connector.refreshes")), "count"),
      ("spark.jobs_per_op", per(opJobs.size, ops.size), "count"),
      ("spark.job_ms_per_op", per(jobUnionNs / 1e6, ops.size), "ms"),
      ("spark.driver_gap_ms_per_op", per((opNs - jobUnionNs) / 1e6, ops.size), "ms"),
      ("spark.tasks_per_job", per(opJobs.map(_.tasks).sum, opJobs.size), "count"),
      ("spark.input_bytes_per_op", per(opJobs.map(_.inputBytes).sum, ops.size), "B"),
      ("spark.shuffle_bytes_per_op", per(opJobs.map(_.shuffleBytes).sum, ops.size), "B"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("trace.cycle_p50_ms", ctx.cycles.q(0.5), "ms"),
      ("trace.span_coverage_min", if (coverage.isEmpty) 0.0 else coverage.min, "fraction"),
      ("trace.spans", tr.spans.size.toDouble, "count"),
      ("self.loader_frac", selfFrac("loader"), "fraction"),
      ("self.connector_frac", selfFrac("connector"), "fraction"),
      ("self.spark_frac", selfFrac("spark"), "fraction"),
      ("self.unattributed_frac", selfFrac("op"), "fraction"))
  }

  /** Metrics of the periodic maintenance in `upsert_lookup`; zero on the
    * other workloads, so they appear in the report only.
    */
  def maintenance(ctx: Ctx): Seq[(String, Double, String)] = {
    val ops = ctx.tracer.spans.filter(_.parent == 0L)
    val total = ops.map(s => s.endNs - s.startNs).sum.toDouble
    val busy = ops.filter(_.name == "op.maintain").map(s => s.endNs - s.startNs).sum.toDouble
    Seq(("maintain.busy_frac", if (total == 0) 0.0 else busy / total, "fraction"),
      ("maintain.bytes_rewritten", ctx.counters("maintain.bytes_added"), "B"))
  }
}
