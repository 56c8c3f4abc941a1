package icebench

/** The per-layer metrics every traced run prints, in order, with units.
  * A layer a workload leaves idle reports 0.
  */
object Catalog {
  val perLayer: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.tasks" -> "count",
    "ingest.file_s" -> "s", "ingest.redelivery_s" -> "s",
    "ingest.load_s" -> "s", "ingest.load_jobs" -> "count",
    "ingest.rows_landed" -> "rows",
    "pipeline.geometries_s" -> "s", "pipeline.geometries_jobs" -> "count",
    "pipeline.forecasts_s" -> "s", "pipeline.forecasts_jobs" -> "count",
    "pipeline.latest_s" -> "s", "pipeline.latest_jobs" -> "count",
    "pipeline.meta_s" -> "s", "pipeline.meta_jobs" -> "count",
    "pipeline.jobs_per_file" -> "count", "pipeline.quarantined_rows" -> "rows",
    "tableops.bytes_written_per_file" -> "bytes",
    "tableops.files_written_per_file" -> "count",
    "warehouse.bytes_per_row" -> "bytes",
    "read.tile_s" -> "s", "read.cell_history_s" -> "s", "read.extent_s" -> "s",
    "read.export_s" -> "s", "read.meta_s" -> "s", "read.refresh_s" -> "s",
    "read.refresh_jobs" -> "count", "read.jobs_per_op" -> "count",
    "read.tasks_per_op" -> "count",
    "query.build_s" -> "s", "query.build_jobs" -> "count", "query.plan_s" -> "s",
    "query.exec_s" -> "s", "query.exec_jobs" -> "count", "query.stages" -> "count",
    "query.single_task_stages" -> "count", "query.tasks" -> "count",
    "query.shuffle_bytes" -> "bytes", "query.spill_bytes" -> "bytes",
    "query.gc_s" -> "s",
    "ops.graph_s" -> "s", "ops.hier_s" -> "s", "ops.dedup_s" -> "s",
    "ops.sim_s" -> "s", "ops.stat_s" -> "s", "ops.eval_s" -> "s",
    "ops.text_s" -> "s", "ops.assoc_s" -> "s", "ops.core_s" -> "s",
    "memo.graph_build_s" -> "s",
    "trace.overhead_pct" -> "%")

  /** Tracing overhead: per op kind, the traced ops' median seconds over the
    * untraced ops', averaged over the kinds both ran, in %.
    */
  def overheadPct(untraced: Seq[OpResult], traced: Seq[OpResult]): Double = {
    def med(rs: Seq[OpResult]) = rs.filter(_.ok).groupBy(_.kind)
      .collect { case (k, v) if v.nonEmpty => k -> Harness.median(v.map(_.seconds)) }
    val (u, t) = (med(untraced), med(traced))
    val ratios = t.keySet.intersect(u.keySet).toSeq.map(k => t(k) / u(k) - 1.0)
    if (ratios.isEmpty) 0.0 else 100.0 * ratios.sum / ratios.size
  }
}
