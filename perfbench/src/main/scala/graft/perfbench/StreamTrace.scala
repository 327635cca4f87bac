package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics and spans of a traced `stream_events` run, read
  * from Structured Streaming's per-trigger progress reports, the task
  * listener and the benchmark's own sinks and generator.
  */
object StreamTrace {

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Quantiles.median(xs)

  def metrics(o: Options, p: StreamBench.Pipeline, progress: StreamBench.ProgressLog,
      layers: LayerListener, latMs: Seq[Double], lateMaxMs: Double,
      gc0: Long): Seq[Json.Metric] = {
    val trace = new Trace
    val all = Seq("proc", "errors", "agg").flatMap(progress.of)
    all.sortBy(_.timestamp).foreach { b =>
      val start = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000000L
      val t = trace.add("trigger", Trace.Root, start,
        start + (dur(b, "triggerExecution") * 1e6).toLong,
        Map("query" -> b.name, "batch" -> b.batchId.toString))
      var at = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          val d = (dur(b, k) * 1e6).toLong
          if (d > 0) { trace.add(k, t, at, at + d); at += d }
        }
    }
    trace.writeJsonl(o.outDir.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))

    val perQuery = Seq("proc", "agg").flatMap { q =>
      val bs = progress.of(q)
      val state = bs.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      val triggerMs = bs.map(dur(_, "triggerExecution"))
      Seq(
        Json.Metric(s"stream.$q.batches", bs.size, "count"),
        Json.Metric(s"stream.$q.rows_per_batch_p50", med(bs.map(_.numInputRows.toDouble)), "count"),
        Json.Metric(s"stream.$q.trigger_ms_p50", med(triggerMs), "ms"),
        Json.Metric(s"stream.$q.add_batch_ms_p50", med(bs.map(dur(_, "addBatch"))), "ms"),
        Json.Metric(s"stream.$q.planning_ms_p50", med(bs.map(dur(_, "queryPlanning"))), "ms"),
        Json.Metric(s"stream.$q.checkpoint_ms_p50",
          med(bs.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms"),
        Json.Metric(s"stream.$q.capacity_eps",
          bs.map(_.numInputRows).sum / (triggerMs.sum / 1e3).max(1e-9), "1/s"),
        Json.Metric(s"state.$q.rows_total", state.map(_.numRowsTotal).sum.toDouble, "count"),
        Json.Metric(s"state.$q.memory_bytes", state.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
        Json.Metric(s"state.$q.commit_ms_p50",
          med(bs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"),
        Json.Metric(s"sink.$q.ms_p50", med(p.sinkNs(q).asScala.toSeq.map(_ / 1e6)), "ms"))
    }

    val batches = all.size.max(1).toDouble
    val wallS = all.map(dur(_, "triggerExecution")).sum / 1e3
    val t = layers.total
    perQuery ++ Seq(
      Json.Metric("state.agg.rows_dropped_by_watermark",
        progress.of("agg").flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble,
        "count"),
      Json.Metric("stream.event_latency_p99_ms", Quantiles.percentile(latMs, 0.99), "ms"),
      Json.Metric("source.backlog_rows_max", progress.backlogMax.toDouble, "count"),
      Json.Metric("gen.late_ms_max", lateMaxMs, "ms"),
      Json.Metric("operators.build_s", p.buildNs / 1e9, "s"),
      Json.Metric("plans.planning_s", all.map(dur(_, "queryPlanning")).sum / 1e3 / batches, "s"),
      Json.Metric("exec.wall_s", wallS / batches, "s"),
      Json.Metric("exec.jobs", t.jobs / batches, "count"),
      Json.Metric("exec.stages", t.stages / batches, "count"),
      Json.Metric("exec.tasks", t.tasks / batches, "count"),
      Json.Metric("exec.single_task_stages", t.singleTaskStages / batches, "count"),
      Json.Metric("exec.task_run_s", t.runMs / 1e3 / batches, "s"),
      Json.Metric("exec.task_cpu_s", t.cpuNs / 1e9 / batches, "s"),
      Json.Metric("exec.core_util", t.runMs / 1e3 / (wallS * o.cores).max(1e-9), "ratio"),
      Json.Metric("sources.input_rows", all.map(_.numInputRows).sum / batches, "count"),
      Json.Metric("shuffle.write_bytes", t.shuffleWrite / batches, "bytes"),
      Json.Metric("shuffle.read_bytes", t.shuffleRead / batches, "bytes"),
      Json.Metric("shuffle.fetch_wait_s", t.fetchWaitMs / 1e3 / batches, "s"),
      Json.Metric("spill_bytes", t.spill / batches, "bytes"),
      Json.Metric("jvm.gc_s", (Jvm.gcMs - gc0) / 1e3 / batches, "s"),
      Json.Metric("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"))
  }
}
