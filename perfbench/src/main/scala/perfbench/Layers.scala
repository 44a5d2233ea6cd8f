package perfbench

/** Per-layer metrics from the traced run: Spark's counters attributed to
  * the benchmark's spans by time, normalised per timed operation.
  */
object Layers {

  /** Every per-layer metric, so a workload that never enters a layer
    * still reports it (as 0).
    */
  val Zeroed: Seq[(String, String)] = Seq(
    "ingest.batches" -> "count", "ingest.add_batch_ms" -> "ms",
    "ingest.fixed_ms" -> "ms", "ingest.planning_ms" -> "ms",
    "validator.ms" -> "ms", "validator.rows_per_s" -> "1/s",
    "validator.invalid_rows" -> "count",
    "zones.write_ms" -> "ms", "zones.files" -> "count", "zones.bytes" -> "B",
    "compaction.hour_ms_p50" -> "ms", "compaction.files_in" -> "count",
    "compaction.files_out" -> "count", "compaction.bytes_out" -> "B",
    "table.upsert_ms_p50" -> "ms", "table.delete_ms_p50" -> "ms",
    "table.maintain_ms_p50" -> "ms", "table.expire_ms_p50" -> "ms",
    "table.files_per_commit" -> "count", "table.bytes_rewritten" -> "B",
    "table.data_files" -> "count", "table.delete_files" -> "count",
    "table.metadata_bytes" -> "B",
    "churn.commit_p50_ms" -> "ms", "churn.commit_tail_ms" -> "ms",
    "churn.commit_tail_pct" -> "%", "churn.commits" -> "count",
    "churn.read_p50_ms" -> "ms", "churn.read_tail_ms" -> "ms",
    "churn.read_tail_pct" -> "%", "churn.reads" -> "count",
    "space.storage_amp" -> "ratio") ++
    ScanWorkload.Queries.flatMap(q => Seq(s"query.$q.wall_s" -> "s",
      s"query.$q.work_fraction" -> "ratio", s"query.$q.plan_ms" -> "ms",
      s"query.$q.shuffle_bytes" -> "B"))

  def zero(ctx: Ctx): Unit =
    Zeroed.foreach { case (n, u) => if (!ctx.report.perLayer.contains(n)) ctx.report.layer(n, 0, u) }

  /** Engine, read-path and filesystem metrics over the timed operations
    * `ops`. `resultRows` is the number of rows the operations returned.
    */
  def engine(ctx: Ctx, ops: Seq[Span], resultRows: Long, fsDelta: Seq[Long]): Unit = {
    val c = ctx.counters.get
    c.drain()
    val r = ctx.report
    val n = math.max(1, ops.size).toDouble
    def inOps(t: Long) = ops.exists(s => t >= s.startMs && t <= s.endMs)
    val jobs = c.synchronized(c.jobs.toList)
    val stages = c.synchronized(c.stages.toList).filter(s => inOps(s.submitMs))
    val qes = c.synchronized(c.queries.toList).filter(q => inOps(q.atMs))
    val wallMs = ops.map(s => s.endMs - s.startMs).sum
    val runMs = stages.map(_.runMs).sum
    r.layer("exec.jobs", jobs.count(j => inOps(j._1)) / n, "count")
    r.layer("exec.stages", stages.size / n, "count")
    r.layer("exec.tasks", stages.map(_.tasks.toLong).sum / n, "count")
    r.layer("exec.run_ms", runMs / n, "ms")
    r.layer("exec.cpu_ms", stages.map(_.cpuMs).sum / n, "ms")
    r.layer("exec.gc_ms", stages.map(_.gcMs).sum / n, "ms")
    r.layer("exec.work_fraction", Stats.workFraction(runMs, wallMs, ctx.cores), "ratio")
    r.layer("input.bytes", stages.map(_.inputBytes).sum / n, "B")
    r.layer("shuffle.read_bytes", stages.map(_.shuffleRead).sum / n, "B")
    r.layer("shuffle.write_bytes", stages.map(_.shuffleWrite).sum / n, "B")
    r.layer("spill.bytes", stages.map(_.spill).sum / n, "B")
    // an operation's self time, with the Spark jobs it ran as its children
    val noJob = ops.map(s => Stats.selfTime(s.interval, jobs)).sum
    r.layer("driver.no_job_ms", noJob / n, "ms")
    r.layer("plan.analysis_ms", qes.map(_.analysisMs).sum / n, "ms")
    r.layer("plan.optimization_ms", qes.map(_.optimizationMs).sum / n, "ms")
    r.layer("plan.planning_ms", qes.map(_.planningMs).sum / n, "ms")
    r.layer("scan.files", qes.map(_.scanFiles).sum / n, "count")
    r.layer("scan.bytes", qes.map(_.scanBytes).sum / n, "B")
    r.layer("scan.rows_per_result_row",
      if (resultRows > 0) qes.map(_.scanRows).sum.toDouble / resultRows else 0, "ratio")
    Seq("fs.read_ops" -> "count", "fs.write_ops" -> "count", "fs.list_ops" -> "count",
      "fs.bytes_written" -> "B").zip(fsDelta).foreach { case ((name, unit), d) =>
      r.layer(name, d / n, unit)
    }
  }

  /** Executor work fraction, planning time and shuffle bytes of the spans
    * `runs` (repeated executions of one query).
    */
  def perQuery(ctx: Ctx, runs: Seq[Span]): (Double, Double, Double) = {
    val c = ctx.counters.get
    def inRuns(t: Long) = runs.exists(s => t >= s.startMs && t <= s.endMs)
    val stages = c.synchronized(c.stages.toList).filter(s => inRuns(s.submitMs))
    val qes = c.synchronized(c.queries.toList).filter(q => inRuns(q.atMs))
    val n = math.max(1, runs.size).toDouble
    val wall = runs.map(s => s.endMs - s.startMs).sum
    (Stats.workFraction(stages.map(_.runMs).sum, wall, ctx.cores),
      qes.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum / n,
      stages.map(_.shuffleWrite).sum / n)
  }

  /** The end-to-end metrics as measured with tracing on; traced minus
    * untraced is the tracing overhead.
    */
  def tracedEndToEnd(ctx: Ctx): Unit =
    ctx.report.endToEnd.foreach { case (k, (v, u)) => ctx.report.layer(s"traced.$k", v, u) }
}
