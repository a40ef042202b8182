package graft.perfbench

/** Per-layer figures of a traced run. Every traced run reports every
  * name in [[Layers.All]]; a layer the workload never calls reads 0.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    // layout_rw
    "profile.profile_ms" -> "ms",
    "wlg.fill_ms" -> "ms",
    "layout.write_ms" -> "ms",
    "layout.write_jobs" -> "count",
    "layout.files_written" -> "count",
    "table.open_ms" -> "ms",
    "table.plan_ms" -> "ms",
    "runner.scan_exec_ms" -> "ms",
    "table.files_kept" -> "count",
    "table.files_total" -> "count",
    "runner.scan_bytes_read" -> "bytes",
    "runner.scan_records_read" -> "count",
    "runner.scan_jobs" -> "count",
    "runner.scan_tasks" -> "count",
    "runner.scan_sched_delay_ms" -> "ms",
    "table.upsert_ms" -> "ms",
    "table.upsert_jobs" -> "count",
    "table.reclusters" -> "count",
    "table.upsert_files_rewritten" -> "count",
    "table.upsert_bytes_written" -> "bytes",
    "layout.clustering_health" -> "ratio",
    "layout.compact_ms" -> "ms",
    "layout.compact_bytes_written" -> "bytes",
    // curation
    "cli.curate_run_ms" -> "ms",
    "runner.build_jobs" -> "count",
    "runner.build_job_span_ms" -> "ms",
    "runner.build_driver_only_ms" -> "ms",
    "runner.build_shuffle_bytes" -> "bytes",
    "cli.curate_add_ms" -> "ms",
    "runner.fold_jobs" -> "count",
    "runner.fold_tasks" -> "count",
    "runner.fold_sched_delay_ms" -> "ms",
    "runner.fold_job_span_ms" -> "ms",
    "runner.fold_driver_only_ms" -> "ms",
    "runner.fold_shuffle_bytes" -> "bytes",
    "layout.store_files" -> "count",
    "layout.store_bytes_written" -> "bytes",
    // curation: gate queries
    "queries.build_ms" -> "ms",
    "queries.plan_ms" -> "ms",
    "queries.exec_ms" -> "ms",
    "runner.release_ms" -> "ms",
    "runner.gate_jobs" -> "count",
    "runner.gate_stages" -> "count",
    "runner.gate_tasks" -> "count",
    "runner.gate_sched_delay_ms" -> "ms",
    "runner.gate_deser_ms" -> "ms",
    "runner.gate_exec_run_ms" -> "ms",
    "runner.gate_exec_cpu_ms" -> "ms",
    "runner.gate_job_span_ms" -> "ms",
    "runner.gate_driver_only_ms" -> "ms",
    "runner.gate_shuffle_bytes" -> "bytes",
    "runner.gate_spill_bytes" -> "bytes",
    "runner.cached_peak_mb" -> "MB",
    "runner.evictions" -> "count",
    "plans.broadcast_joins" -> "count",
    "plans.shuffle_joins" -> "count")

  val unitOf: Map[String, String] = All.toMap
}

/** Aggregates one run's spans into [[Report.layers]]. */
final class Layers(spans: Seq[Span], rep: Report) {
  private def put(name: String, xs: Seq[Double]): Unit = {
    val unit = Layers.unitOf.getOrElse(name,
      throw new IllegalArgumentException(s"unknown layer metric $name"))
    val s = Stats.median(xs)
    rep.layers(name) = Metric(s.map(_.value).getOrElse(0.0), unit, s.map(_.n).getOrElse(0))
  }

  /** Median over the spans named `span` (the warm-up's tag -1 excluded). */
  def perSpan(name: String, span: String)(f: Span => Double): Unit =
    put(name, spans.filter(s => s.name == span && s.tag >= 0).map(f))

  /** Sum over the spans of each tag (a pass), median over tags. */
  def perTag(name: String, span: String)(f: Span => Double): Unit =
    perTag(name, Set(span))(f)

  def perTag(name: String, names: Set[String])(f: Span => Double): Unit =
    put(name, spans.filter(s => names(s.name) && s.tag >= 0)
      .groupBy(_.tag).values.map(_.map(f).sum).toSeq)

  def value(name: String, v: Double): Unit = put(name, Seq(v))
}
