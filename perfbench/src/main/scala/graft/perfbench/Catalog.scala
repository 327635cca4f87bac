package graft.perfbench

/** Every metric the benchmark reports, with its unit. Each run reports
  * all of them (`BENCHMARK.json` lists the same names): the end-to-end
  * set untraced, the per-layer set traced. A per-layer metric whose
  * layer is not on a workload's path reads 0 there (no micro-batches in
  * a batch workload, no builder jobs in the stream).
  */
object Catalog {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "query_p50_s" -> "s",
    "query_p90_s" -> "s",
    "queries_per_min" -> "1/min",
    "event_latency_p50_ms" -> "ms",
    "event_latency_p90_ms" -> "ms",
    "events_per_s" -> "1/s")

  private val streamQueries = Seq("proc", "agg")

  val perLayer: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s",
    "operators.build_jobs" -> "count",
    "plans.analysis_s" -> "s",
    "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "plans.graft_exec_rows_out" -> "count",
    "exec.wall_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.single_task_stages" -> "count",
    "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.core_util" -> "ratio",
    "sources.input_rows" -> "count",
    "sources.input_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s",
    "spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB") ++
    streamQueries.flatMap(q => Seq(
      s"stream.$q.batches" -> "count",
      s"stream.$q.rows_per_batch_p50" -> "count",
      s"stream.$q.trigger_ms_p50" -> "ms",
      s"stream.$q.add_batch_ms_p50" -> "ms",
      s"stream.$q.planning_ms_p50" -> "ms",
      s"stream.$q.checkpoint_ms_p50" -> "ms",
      s"stream.$q.capacity_eps" -> "1/s",
      s"state.$q.rows_total" -> "count",
      s"state.$q.memory_bytes" -> "bytes",
      s"state.$q.commit_ms_p50" -> "ms",
      s"sink.$q.ms_p50" -> "ms")) ++ Seq(
    "state.agg.rows_dropped_by_watermark" -> "count",
    "stream.event_latency_p99_ms" -> "ms",
    "source.backlog_rows_max" -> "count",
    "gen.late_ms_max" -> "ms",
    "trace.unaccounted_s" -> "s",
    "trace.unaccounted_max_frac" -> "ratio",
    "trace.spans_outside_tolerance" -> "count",
    "trace.overhead_frac" -> "ratio")

  /** `measured` in catalogue order, units checked, absent layers as 0. */
  def complete(catalogue: Seq[(String, String)], measured: Seq[Json.Metric]): Seq[Json.Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- catalogue.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalogue: ${unknown.mkString(", ")}")
    catalogue.map { case (name, unit) =>
      val m = byName.getOrElse(name, Json.Metric(name, 0.0, unit))
      require(m.unit == unit, s"$name reported in ${m.unit}, catalogued in $unit")
      m
    }
  }
}
