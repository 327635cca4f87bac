package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.SparkInternals
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.jobs.{AggregationMain, EventProcessorMain}

/** The `stream_events` workload: graft's reference pipeline as two
  * chained streaming queries, fed open loop at a fixed offered rate.
  *
  * One generator thread writes producer-format payloads (5% malformed,
  * in the producer's four malformed shapes) into the processor's input
  * at their scheduled times. `EventProcessorMain.pipeline` runs both
  * routes, each as its own query over its own copy of the input (Spark
  * has no side outputs; the cluster main reads its topic twice the same
  * way). The valid route's sink forwards every batch into the input of
  * `AggregationMain.pipeline`, which runs in update mode. Every sink is
  * the benchmark's own `foreachBatch`, which notes when it was called.
  *
  * An event's latency runs from its scheduled creation time, which the
  * generator keeps by sequence number, to the first aggregation-sink
  * call whose window counts include it (for malformed events: the first
  * error-sink call that includes it). Timing from the schedule rather
  * than from the moment the generator got to it keeps a stalled
  * pipeline from hiding its own delay.
  */
object StreamBench {

  /** Offered load: well below the pipeline's saturation point. */
  val RatePerS = 400
  /** Distinct user keys; the reference producer has 50. */
  val Users = 5000
  /** Every measured query triggers on this cadence (the cluster
    * aggregation main emits every 5 s). Triggers take about 1 s here, so
    * the cadence leaves slack: with back-to-back triggers, or a 1 s
    * cadence, the three queries contended for the cores and p50 latency
    * moved by 10-40% from run to run; at 2 s, by 2-4%.
    */
  val TriggerMs = 2000L
  /** Set-up pushes this many seconds of load through a throw-away copy
    * of the pipeline, so JIT and codegen warm-up stay out of the run.
    */
  val WarmupS = 2
  val DrainTimeoutS = 60
  /** A generator this late behind its schedule invalidates the run. */
  val MaxLateMs = 500.0

  private val Types = Array("login", "purchase", "view", "click", "logout")
  private val Cats = Array("electronics", "books", "clothing", "food")
  private val Malformed = Array("{invalid json", "{}", "{\"id\": \"user-1\"}",
    "{\"id\": \"user-1\", \"type\": \"\", \"timestamp\": \"not-a-number\"}")

  /** One generated event: its payload and the route it must take
    * (`user` is the key it is counted under, or None for the error
    * route).
    */
  final case class Event(payload: String, user: Option[String])

  def event(rnd: scala.util.Random, tsMs: Long): Event =
    if (rnd.nextInt(100) < 5) {
      val shape = rnd.nextInt(4)
      // '{"id": "user-1"}' parses with an id, so it is a valid event
      Event(Malformed(shape), if (shape == 2) Some("user-1") else None)
    } else {
      val user = s"user-${rnd.nextInt(Users) + 1}"
      Event(s"""{"id": "$user", "type": "${Types(rnd.nextInt(5))}", "timestamp": $tsMs, """ +
        s""""data": {"value_cents": "${rnd.nextInt(9900) + 100}", "category": "${Cats(rnd.nextInt(4))}"}}""",
        Some(user))
    }

  /** The three queries of one pipeline instance and what their sinks saw. */
  final class Pipeline(spark: SparkSession, ckpt: String, trigger: Trigger) {
    private implicit val enc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    // one input partition per core, as from a topic with that many
    // partitions (by default every addData call becomes a partition)
    private def input() = MemoryStream[String](spark, Main.Cores)
    val validIn: MemoryStream[String] = input()
    val errorIn: MemoryStream[String] = input()
    val aggIn: MemoryStream[String] = input()

    /** (call time ns, user -> events counted so far) per agg-sink call. */
    val aggEmissions = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
    /** (call time ns, error rows so far) per error-sink call. */
    val errorEmissions = new ConcurrentLinkedQueue[(Long, Long)]()
    val procRows = new ConcurrentLinkedQueue[String]()
    val sinkNs: Map[String, ConcurrentLinkedQueue[Long]] =
      Seq("proc", "errors", "agg").map(_ -> new ConcurrentLinkedQueue[Long]()).toMap
    private val windowCounts = mutable.Map.empty[(String, String), Long]
    @volatile var windowTotal = 0L
    @volatile var errorRows = 0L

    private val buildT0 = System.nanoTime()
    private def asValue(m: MemoryStream[String]) = m.toDF().toDF("value")
    private val (validJson, _) = EventProcessorMain.pipeline(asValue(validIn))
    private val (_, errorJson) = EventProcessorMain.pipeline(asValue(errorIn))
    private val metricsJson = AggregationMain.pipeline(asValue(aggIn))
    val buildNs: Long = System.nanoTime() - buildT0

    private val WindowRow =
      """"userId":"([^"]*)","windowStart":"([^"]*)".*"totalEventCount":(\d+)""".r.unanchored

    /** Starts query `name` with a sink that collects each batch (the
      * batch's execution) and hands the rows, with the time they
      * arrived, to `sink`; only the time in `sink` counts as sink time.
      */
    private def start(name: String, df: DataFrame, mode: OutputMode)(
        sink: (Long, Array[String]) => Unit): StreamingQuery =
      df.writeStream.queryName(name)
        .option("checkpointLocation", s"$ckpt/$name")
        .outputMode(mode)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.collect().map(_.getString(0))
          val t = System.nanoTime()
          sink(t, rows)
          sinkNs(name).add(System.nanoTime() - t)
          ()
        }.start()

    val queries: Seq[StreamingQuery] = Seq(
      start("proc", validJson, OutputMode.Append) { (_, rows) =>
        rows.foreach(procRows.add)
        aggIn.addData(rows.toIndexedSeq)
      },
      start("errors", errorJson, OutputMode.Append) { (t, rows) =>
        errorRows += rows.length
        errorEmissions.add((t, errorRows))
      },
      start("agg", metricsJson, OutputMode.Update) { (t, rows) =>
        val touched = mutable.Set.empty[String]
        rows.foreach {
          case WindowRow(user, w, n) => windowCounts((user, w)) = n.toLong; touched += user
          case other => throw new IllegalStateException(s"unexpected metrics row: $other")
        }
        // every event lands in exactly two windows, both updated by the
        // batch that counts it
        val byUser = windowCounts.groupMapReduce(_._1._1)(_._2)(_ + _)
        windowTotal = windowCounts.values.sum
        aggEmissions.add((t, touched.iterator.map(u => u -> byUser(u) / 2).toMap))
      })

    def push(payloads: Seq[String]): Unit = {
      validIn.addData(payloads)
      errorIn.addData(payloads)
    }

    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Latency of each event of one key (in stream order, scheduled at
    * `dueNs`) given the sink calls that report how many of the key's
    * events are counted so far: event k is done at the first call whose
    * count reaches k. Events never counted get -1.
    */
  def openLoopLatencyNs(dueNs: IndexedSeq[Long], counted: Seq[(Long, Long)]): IndexedSeq[Long] = {
    val out = Array.fill(dueNs.size)(-1L)
    var k = 0
    counted.sortBy(_._1).foreach { case (t, c) =>
      while (k < dueNs.size && k < c) { out(k) = t - dueNs(k); k += 1 }
    }
    out.toIndexedSeq
  }

  final class ProgressLog extends StreamingQueryListener {
    val byQuery = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
    @volatile var backlogProbe: () => Long = () => 0L
    @volatile var backlogMax = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        byQuery.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue()).add(p)
        backlogMax = backlogMax.max(backlogProbe())
      }
    }
    def of(q: String): Seq[StreamingQueryProgress] =
      Option(byQuery.get(q)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  /** Runs the generator for `seconds`. With `aligned`, the first event
    * is due half a trigger interval after a trigger boundary (triggers
    * fire on wall-clock multiples of the interval), so every run sees
    * the same phase between arrivals and triggers.
    */
  private def drive(p: Pipeline, seed: Long, seconds: Int, aligned: Boolean,
      onProgress: Long => Unit = _ => ()): (IndexedSeq[Event], Array[Long], Long, Double) = {
    val rnd = new scala.util.Random(seed)
    val n = RatePerS.toLong * seconds
    val intervalNs = 1e9 / RatePerS
    val nowMs = System.currentTimeMillis()
    val nowNs = System.nanoTime()
    val wall0 = if (aligned) (nowMs / TriggerMs + 1) * TriggerMs + TriggerMs / 2
      else nowMs + 100
    val t0 = nowNs + (wall0 - nowMs) * 1000000L
    val events = ArrayBuffer.empty[Event]
    val due = new Array[Long](n.toInt)
    var lateMaxMs = 0.0
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      val upto = math.min(n, ((now - t0) / intervalNs).toLong + 1).toInt
      if (upto > i) {
        val batch = (i until upto).map { j =>
          due(j) = t0 + (j * intervalNs).toLong
          val e = event(rnd, wall0 + (j * 1000L) / RatePerS)
          events += e
          e.payload
        }
        p.push(batch)
        lateMaxMs = lateMaxMs.max((System.nanoTime() - due(i)) / 1e6)
        i = upto
        onProgress(i)
      } else {
        val waitNs = t0 + (i * intervalNs).toLong - now
        if (waitNs > 0) java.util.concurrent.locks.LockSupport.parkNanos(waitNs)
      }
    }
    (events.toIndexedSeq, due, t0, lateMaxMs)
  }

  def run(spark: SparkSession, o: Options, startMs: Long): Outcome = {
    // graft's production state-store settings: RocksDB with changelog
    // checkpointing
    graft.streaming.StateConfig.rocksdb().foreach { case (k, v) => spark.conf.set(k, v) }
    val ckptRoot = o.outDir.resolve(s"stream-${ProcessHandle.current.pid}")
    try runIn(spark, o, startMs, ckptRoot.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(ckptRoot.toFile)
  }

  private def runIn(spark: SparkSession, o: Options, startMs: Long, ckpt: String): Outcome = {
    // ---- set-up: warm a throw-away pipeline, then start the measured one ----
    // back-to-back triggers: the warm-up only has to compile, not pace
    val warm = new Pipeline(spark, s"$ckpt/warmup", Trigger.ProcessingTime(0L))
    val (wEvents, _, _, _) = drive(warm, o.seed ^ 0x5eedL, WarmupS, aligned = false)
    awaitDrained(warm, wEvents)
    warm.stop()

    val progress = new ProgressLog
    val layers = new LayerListener
    if (o.trace) {
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(layers)
      SparkInternals.drainListeners(spark.sparkContext)
    }
    val gc0 = Jvm.gcMs
    Jvm.resetHeapPeak()
    val p = new Pipeline(spark, s"$ckpt/run", Trigger.ProcessingTime(TriggerMs))
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    // ---- measured interval: open-loop generation ----
    @volatile var generated = 0L
    progress.backlogProbe = () => generated - progress.of("proc").map(_.numInputRows).sum
    val (events, due, t0, lateMaxMs) = drive(p, o.seed, o.seconds, aligned = true, i => generated = i)
    val tEnd = t0 + o.seconds * 1000000000L
    val drained = awaitDrained(p, events)
    p.stop()

    // ---- latencies ----
    val byUser = events.indices.groupBy(i => events(i).user)
    val userCounted: Map[String, Seq[(Long, Long)]] = p.aggEmissions.asScala.toSeq
      .flatMap { case (t, m) => m.iterator.map { case (u, c) => (u, (t, c)) } }
      .groupMap(_._1)(_._2)
    // when each event reached its sink, -1 if it never did
    val doneNs = Array.fill(events.size)(-1L)
    byUser.foreach { case (user, idx) =>
      val emissions = user match {
        case Some(u) => userCounted.getOrElse(u, Nil)
        case None => p.errorEmissions.asScala.toSeq
      }
      openLoopLatencyNs(idx.map(due(_)), emissions).zip(idx).foreach {
        case (l, i) => if (l >= 0) doneNs(i) = due(i) + l
      }
    }
    val latNs = events.indices.filter(doneNs(_) >= 0).map(i => doneNs(i) - due(i))
    val eventsPerS = doneNs.count(t => t >= 0 && t <= tEnd) / o.seconds.toDouble

    // ---- the pipeline's laws (LocalPipelineMain's self-checks) ----
    val expectedByUser = events.flatMap(_.user).groupMapReduce(identity)(_ => 1L)(_ + _)
    val validExpected = expectedByUser.values.sum
    val errorsExpected = events.size - validExpected
    val procRows = p.procRows.asScala.toSeq
    val SeqRow = """"originalId":"([^"]*)".*"sequence":(\d+)""".r.unanchored
    val finalSeq = procRows.collect { case SeqRow(u, s) => (u, s.toLong) }
      .groupMapReduce(_._1)(_._2)(_ max _)
    val counted = userCounted.view.mapValues(_.map(_._2).max).toMap
    val badUsers = (expectedByUser.keySet ++ counted.keySet).toSeq.map { u =>
      (counted.getOrElse(u, 0L) - expectedByUser.getOrElse(u, 0L)).abs
    }.sum
    val errorDiff = (p.errorRows - errorsExpected).abs
    val laws = Seq(
      "valid + errors = generated" -> (procRows.size + p.errorRows == events.size),
      "final sequence = valid events, per user" -> (finalSeq == expectedByUser),
      "window totals = 2 x valid events" -> (p.windowTotal == 2 * validExpected),
      "generator on schedule" -> (lateMaxMs <= MaxLateMs),
      "pipeline drained" -> drained)
    laws.filterNot(_._2).foreach { case (law, _) =>
      System.err.println(s"[perfbench] stream law violated: $law")
    }
    val failed = badUsers + errorDiff
    val correct = laws.forall(_._2) && failed == 0

    val lat = latNs.map(_ / 1e6).toSeq
    val p50 = Quantiles.percentile(lat, 0.5)
    val p90 = Quantiles.percentile(lat, 0.9)
    System.err.println(f"[perfbench] stream_events: ${events.size} events, " +
      f"p50 $p50%.1f ms, p90 $p90%.1f ms, late max $lateMaxMs%.1f ms, setup $setupS%.2f s")
    val endToEnd = Seq(
      Json.Metric("setup_s", setupS, "s"),
      Json.Metric("query_p50_s", p50 / 1e3, "s"),
      Json.Metric("query_p90_s", p90 / 1e3, "s"),
      Json.Metric("queries_per_min", eventsPerS * 60, "1/min"),
      Json.Metric("event_latency_p50_ms", p50, "ms"),
      Json.Metric("event_latency_p90_ms", p90, "ms"),
      Json.Metric("events_per_s", eventsPerS, "1/s"))
    val metrics = if (!o.trace) endToEnd else {
      SparkInternals.drainListeners(spark.sparkContext)
      StreamTrace.metrics(o, p, progress, layers, lat, lateMaxMs, gc0)
    }
    Outcome(correct, events.size.toLong, failed, metrics)
  }

  /** Waits until every generated event has reached its sink. */
  private def awaitDrained(p: Pipeline, events: IndexedSeq[Event]): Boolean = {
    val valid = events.count(_.user.isDefined).toLong
    val errors = events.size - valid
    val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
    def done = p.errorRows >= errors &&
      p.windowTotal >= 2 * valid && p.procRows.size >= valid
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
    p.queries.foreach(q => q.exception.foreach(e => throw e))
    done
  }
}
