package perfbench

/** The per-layer metrics of the traced run, with units. Every traced run
  * reports every one of them; a layer the workload never enters reads 0.
  * `BENCHMARK.json`'s `per_layer` list is this list (run.py checks it).
  */
object Layers {

  val all: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.state_update_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MB",
    "streaming.emit_ratio" -> "ratio",
    "streaming.offsets_commit_ms" -> "ms",
    "streaming.plan_ms" -> "ms",
    "streaming.backlog_rows_max" -> "rows",
    "gen.lag_ms_max" -> "ms",
    "store.write_ms" -> "ms",
    "store.files_written" -> "count",
    "store.bytes_per_row" -> "B/row",
    "store.read_ms" -> "ms",
    "store.files_scanned" -> "count",
    "store.rows_scanned_per_row_returned" -> "ratio",
    "archive.get_data_ms" -> "ms",
    "archive.value_at_time_ms" -> "ms",
    "archive.activity_ms" -> "ms",
    "timeseries.decimate_to_cap_ms" -> "ms",
    "timeseries.decimate_iters" -> "count",
    "export.ascii_rows_ms" -> "ms",
    "pairs.related_ms" -> "ms",
    "driver.plan_ms" -> "ms",
    "driver.jobs_per_op" -> "count",
    "driver.stages_per_op" -> "count",
    "driver.non_job_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B",
    "exec.tasks" -> "count",
    "exec.slot_util" -> "ratio",
    "trace.overhead_pct" -> "%")

  private val units = all.toMap

  def unit(name: String): String =
    units.getOrElse(name, throw new IllegalArgumentException(s"undeclared per-layer metric: $name"))

  /** Executor totals over the given stages and measured wall. */
  def executor(rep: Report, stages: Seq[StageRec], wallMs: Double, cores: Int): Unit = {
    rep.layer("exec.cpu_ms", stages.map(_.cpuMs).sum)
    rep.layer("exec.gc_ms", stages.map(_.gcMs).sum.toDouble)
    rep.layer("exec.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble)
    rep.layer("exec.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble)
    rep.layer("exec.spill_bytes", stages.map(_.spill).sum.toDouble)
    rep.layer("exec.tasks", stages.map(_.tasks).sum.toDouble)
    if (wallMs > 0) rep.layer("exec.slot_util", stages.map(_.runMs).sum / (wallMs * cores))
  }
}
