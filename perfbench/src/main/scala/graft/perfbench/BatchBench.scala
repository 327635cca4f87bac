package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graft.SparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.QueryDef
import graft.operators._

/** The batch workloads: a closed loop with one client thread over a
  * fixed set of registered queries. Each execution is the builder call
  * plus a `noop`-sink write of its result.
  *
  * Set-up (timed as `setup_s`) creates the session, installs graft's
  * planner extensions and runs every query of the workload once in name
  * order, collecting its result and checking the row count and digest
  * against `expected/<workload>.tsv`; then [[WarmPasses]] - 1 unchecked
  * passes. Set-up thus pays every first-build cost a JVM carries, so
  * none lands in the measured loop: codegen and JIT warm-up, and the
  * per-JVM caches in `Similarity` (`pqArtifactCache`: only the first
  * IVF-PQ build trains its codebooks; `corpusCountCache`: the corpus
  * row count) for any selected query that reaches them.
  *
  * The measured loop then runs passes over the same queries, each pass
  * in an order drawn from the seed, and stops at the first pass
  * boundary once `seconds` have passed and at least [[MinExecutions]]
  * executions are in, so every query runs equally often. Between
  * executions (outside the timed region) leftover cached frames and
  * RDD persists are released, as `graft.Bench` does.
  */
object BatchBench {

  /** Enough executions for a p90 with 10 samples beyond it. */
  val MinExecutions = 100
  /** Passes in set-up, the checked one included. */
  val WarmPasses = 10

  /** The registered queries each batch workload draws from: the modules
    * that read the TPC-H tables or `events` (relational), and those that
    * read `documents` or `embeddings` (corpus). The `supersededBy`
    * baselines are left out, as in Bench's headline.
    */
  def modules(workload: String): Seq[QueryDef] = (workload match {
    case "relational" => Seq(Analytics.defs, Tpch.defs, EventPipeline.defs,
      Temporal.defs, Patterns.defs, Stats.defs)
    case "corpus" => Seq(TextAnalysis.defs, Dedup.defs, Similarity.defs,
      Graph.defs, Curate.defs, Corpus.defs, Bpe.defs, Contamination.defs,
      Substring.defs, Sampling.defs, Select.defs, Multimodal.defs)
    case other => throw new IllegalArgumentException(s"not a batch workload: $other")
  }).flatten.filter(_.supersededBy.isEmpty)

  /** The queries a run executes: a fixed sample of five per workload,
    * so that set-up plus 20 measured passes fit the run's time budget
    * (README: sizing). With five queries run 20 times each, p50 is the
    * median of the third-slowest query's samples and p90 the median of
    * the slowest one's, not the edge of a gap between two queries.
    * Relational takes TPC-H Q6 and a window query (Analytics), and one
    * query each from Temporal, Patterns and Stats that runs one of
    * graft's own physical operators (AsofJoinExec, RangeJoinExec,
    * TopKPerKeyExec). Corpus takes two near-duplicate queries whose
    * builders materialize eagerly and join the pair graph, and one
    * cheap text, embedding and sampling query each.
    */
  val Selected: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q_window_funcs", "q6_forecast_revenue",
      "q_asof_join_custom", "q_range_join_custom", "q_topk_per_key"),
    "corpus" -> Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "text_tokens",
      "emb_dim_reduce", "sample_split_hash"))

  def queries(workload: String): Seq[QueryDef] = {
    val byName = modules(workload).map(q => q.name -> q).toMap
    val names = Selected(workload)
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"$workload selects queries outside its modules: ${unknown.mkString(", ")}")
    names.sorted.map(byName)
  }

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  final case class Expected(rows: Long, digest: String)

  def readExpected(path: java.nio.file.Path): Map[String, Expected] =
    java.nio.file.Files.readAllLines(path).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, digest) = l.split("\t")
        name -> Expected(rows.toLong, digest)
      }.toMap

  final case class Execution(name: String, buildNs: Long, writeNs: Long) {
    def totalS: Double = (buildNs + writeNs) / 1e9
  }

  def run(spark: SparkSession, o: Options, startMs: Long): Outcome = {
    val defs = queries(o.workload)
    val dir = o.dataDir
    val recording = o.record.isDefined
    val expected = if (recording) Map.empty[String, Expected]
      else readExpected(o.expected)
    val missing = defs.map(_.name).filterNot(expected.contains)
    require(recording || missing.isEmpty,
      s"no expected output for: ${missing.mkString(", ")}")

    // ---- set-up: one checked pass in name order ----
    var attempted = 0L
    var failed = 0L
    val recorded = ArrayBuffer.empty[String]
    defs.foreach { q =>
      release(spark)
      attempted += 1
      val t = System.nanoTime()
      try {
        val d = Digest.of(q.fn(spark, dir).collect().iterator)
        System.err.println(f"[perfbench]   set-up ${q.name}%-28s ${(System.nanoTime() - t) / 1e9}%.3f s")
        if (recording) recorded += s"${q.name}\t${d.rows}\t${d.digest}"
        else if (expected(q.name) != Expected(d.rows, d.digest)) {
          failed += 1
          System.err.println(s"[perfbench] ${q.name}: output ${d.rows} rows " +
            s"${d.digest}, expected ${expected(q.name)}")
        }
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] ${q.name} failed in set-up: $e")
      }
    }
    o.record.foreach { p =>
      java.nio.file.Files.writeString(p, recorded.mkString("", "\n", "\n"))
    }
    // untimed passes until JIT compilation has settled (README: JIT mode)
    for (_ <- 2 to WarmPasses; q <- defs) {
      release(spark)
      try q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] ${q.name} failed in warm-up: $e") }
    }
    release(spark)
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    // ---- measured loop ----
    val tracer = if (o.trace) Some(new BatchTracer(spark)) else None
    val rng = new scala.util.Random(o.seed)
    val execs = ArrayBuffer.empty[Execution]
    val t0 = System.nanoTime()
    var progressing = true
    while (progressing &&
        ((System.nanoTime() - t0) / 1e9 < o.seconds || execs.size < MinExecutions)) {
      val before = execs.size
      rng.shuffle(defs).foreach { q =>
        release(spark)
        tracer.foreach(_.beforeQuery())
        attempted += 1
        val a = System.nanoTime()
        try {
          tracer.foreach(_.phase("build"))
          val df = q.fn(spark, dir)
          val b = System.nanoTime()
          tracer.foreach(_.phase("exec"))
          df.write.format("noop").mode("overwrite").save()
          val c = System.nanoTime()
          tracer.foreach(_.phase(null))
          execs += Execution(q.name, b - a, c - b)
          tracer.foreach(_.afterQuery(q.name, a, b, c))
        } catch { case NonFatal(e) =>
          tracer.foreach(_.phase(null))
          failed += 1
          System.err.println(s"[perfbench] ${q.name} failed: $e")
        }
      }
      // a pass in which every query failed would repeat forever
      progressing = execs.size > before
    }
    release(spark)

    val lat = execs.map(_.totalS).toSeq
    val busyS = lat.sum
    val p50 = Quantiles.percentile(lat, 0.5)
    val p90 = Quantiles.percentile(lat, 0.9)
    val qpm = execs.size / busyS * 60
    val endToEnd = Seq(
      Json.Metric("setup_s", setupS, "s"),
      Json.Metric("query_p50_s", p50, "s"),
      Json.Metric("query_p90_s", p90, "s"),
      Json.Metric("queries_per_min", qpm, "1/min"),
      Json.Metric("event_latency_p50_ms", p50 * 1e3, "ms"),
      Json.Metric("event_latency_p90_ms", p90 * 1e3, "ms"),
      Json.Metric("events_per_s", qpm / 60, "1/s"))
    System.err.println(f"[perfbench] ${o.workload}: ${execs.size} executions, " +
      f"busy $busyS%.2f s, setup $setupS%.2f s")
    System.err.println("[perfbench]   pass busy s: " + execs.grouped(defs.size)
      .map(p => f"${p.map(_.totalS).sum}%.2f").mkString(" "))
    execs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, es) =>
      System.err.println(f"[perfbench]   $name%-28s median ${Quantiles.median(es.map(_.totalS).toSeq)}%.3f s")
    }
    val perLayer = tracer.map(_.metrics(execs.toSeq, o)).getOrElse(Nil)
    Outcome(failed == 0, attempted, failed, if (o.trace) perLayer else endToEnd)
  }
}

/** The traced batch run: spans query -> build / plan / execute, and the
  * per-layer counters, all taken around the calls the measured loop
  * already makes.
  */
final class BatchTracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val layers = new LayerListener
  private val plans = new PlanListener
  sc.addSparkListener(layers)
  spark.listenerManager.register(plans)
  val trace = new Trace

  private var overheadNs = 0L
  private var unaccountedMaxFrac = 0.0
  private var unaccountedNs = 0L
  private var outsideTolerance = 0L
  private val phaseMs = ArrayBuffer.empty[(Double, Double, Double)]
  private var graftRows = 0L
  private var execWallNs = 0L
  private var writeMarkMs = 0L
  private val gcStart = Jvm.gcMs
  Jvm.resetHeapPeak()
  private val totalBefore = { SparkInternals.drainListeners(sc); layers.total }
  private val buildStart = layers.snapshot("build")
  private val execStart = layers.snapshot("exec")

  def phase(p: String): Unit = {
    if (p == "exec") writeMarkMs = System.currentTimeMillis()
    sc.setLocalProperty(LayerListener.PhaseKey, p)
  }

  def beforeQuery(): Unit = {
    val t = System.nanoTime()
    SparkInternals.drainListeners(sc)
    plans.drain()
    overheadNs += System.nanoTime() - t
  }

  private val graftExecs = Set("TopKPerKeyExec", "AsofJoinExec", "RangeJoinExec")

  private def graftRowsOf(plan: SparkPlan): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(plan) {
      case p if graftExecs.contains(p.getClass.getSimpleName) =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  def afterQuery(name: String, a: Long, b: Long, c: Long): Unit = {
    val t = System.nanoTime()
    SparkInternals.drainListeners(sc)
    val qes = plans.drain()
    // the noop write is the last action of the execution
    val writeQe = qes.lastOption
    val phases = writeQe.map(_.tracker.phases).getOrElse(Map.empty)
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val (an, op, pl) = (ms("analysis"), ms("optimization"), ms("planning"))
    phaseMs += ((an, op, pl))
    graftRows += writeQe.map(q => graftRowsOf(q.executedPlan)).getOrElse(0L)
    val planNs = ((an + op + pl) * 1e6).toLong
    val execNs = layers.sqlWallMsSince(writeMarkMs) * 1000000L
    execWallNs += execNs
    val q = trace.add("query", Trace.Root, a, c, Map("query" -> name))
    trace.add("build", q, a, b)
    trace.add("plan", q, b, b + planNs)
    trace.add("execute", q, b + planNs, b + planNs + execNs)
    val self = trace.selfNs(q)
    unaccountedNs += self.abs
    if (self.abs > BatchTracer.toleranceNs(c - a)) outsideTolerance += 1
    unaccountedMaxFrac = unaccountedMaxFrac.max(self.abs.toDouble / (c - a))
    overheadNs += System.nanoTime() - t
  }

  def metrics(execs: Seq[BatchBench.Execution], o: Options): Seq[Json.Metric] = {
    SparkInternals.drainListeners(sc)
    val n = execs.size.max(1).toDouble
    val build = layers.snapshot("build") - buildStart
    val exec = layers.snapshot("exec") - execStart
    val all = layers.total - totalBefore
    val busyNs = execs.map(e => e.buildNs + e.writeNs).sum.toDouble
    trace.writeJsonl(o.outDir.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
    Seq(
      Json.Metric("operators.build_s", execs.map(_.buildNs).sum / 1e9 / n, "s"),
      Json.Metric("operators.build_jobs", build.jobs / n, "count"),
      Json.Metric("plans.analysis_s", phaseMs.map(_._1).sum / 1e3 / n, "s"),
      Json.Metric("plans.optimization_s", phaseMs.map(_._2).sum / 1e3 / n, "s"),
      Json.Metric("plans.planning_s", phaseMs.map(_._3).sum / 1e3 / n, "s"),
      Json.Metric("plans.graft_exec_rows_out", graftRows / n, "count"),
      Json.Metric("exec.wall_s", execWallNs / 1e9 / n, "s"),
      Json.Metric("exec.jobs", exec.jobs / n, "count"),
      Json.Metric("exec.stages", exec.stages / n, "count"),
      Json.Metric("exec.tasks", exec.tasks / n, "count"),
      Json.Metric("exec.single_task_stages", exec.singleTaskStages / n, "count"),
      Json.Metric("exec.task_run_s", exec.runMs / 1e3 / n, "s"),
      Json.Metric("exec.task_cpu_s", exec.cpuNs / 1e9 / n, "s"),
      Json.Metric("exec.core_util",
        exec.runMs / 1e3 / (execWallNs / 1e9 * o.cores).max(1e-9), "ratio"),
      Json.Metric("sources.input_rows", all.inputRows / n, "count"),
      Json.Metric("sources.input_bytes", all.inputBytes / n, "bytes"),
      Json.Metric("shuffle.write_bytes", all.shuffleWrite / n, "bytes"),
      Json.Metric("shuffle.read_bytes", all.shuffleRead / n, "bytes"),
      Json.Metric("shuffle.fetch_wait_s", all.fetchWaitMs / 1e3 / n, "s"),
      Json.Metric("spill_bytes", all.spill / n, "bytes"),
      Json.Metric("jvm.gc_s", (Jvm.gcMs - gcStart) / 1e3 / n, "s"),
      Json.Metric("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"),
      Json.Metric("trace.unaccounted_s", unaccountedNs / 1e9 / n, "s"),
      Json.Metric("trace.unaccounted_max_frac", unaccountedMaxFrac, "ratio"),
      Json.Metric("trace.spans_outside_tolerance", outsideTolerance.toDouble, "count"),
      Json.Metric("trace.overhead_frac", overheadNs / busyNs.max(1.0), "ratio"))
  }
}

object BatchTracer {
  /** How far build + plan + execute may miss a query's wall time: the
    * three are timed independently (client clock, Catalyst's tracker,
    * SQL execution events in whole milliseconds).
    */
  def toleranceNs(wallNs: Long): Long = math.max(wallNs * 15 / 100, 20000000L)
}
