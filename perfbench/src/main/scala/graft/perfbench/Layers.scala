package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters of one phase. */
final case class TaskCounters(
    jobs: Long = 0, stages: Long = 0, singleTaskStages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, inputRows: Long = 0, inputBytes: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, fetchWaitMs: Long = 0,
    spill: Long = 0) {
  private def zip(o: TaskCounters)(f: (Long, Long) => Long) = TaskCounters(
    f(jobs, o.jobs), f(stages, o.stages), f(singleTaskStages, o.singleTaskStages),
    f(tasks, o.tasks), f(runMs, o.runMs), f(cpuNs, o.cpuNs),
    f(inputRows, o.inputRows), f(inputBytes, o.inputBytes),
    f(shuffleWrite, o.shuffleWrite), f(shuffleRead, o.shuffleRead),
    f(fetchWaitMs, o.fetchWaitMs), f(spill, o.spill))
  def -(o: TaskCounters): TaskCounters = zip(o)(_ - _)
  def +(o: TaskCounters): TaskCounters = zip(o)(_ + _)
}

/** Listener for the traced run: task, stage and job counters split by
  * the phase the client thread was in when it launched the job (the
  * `perfbench.phase` local property, which Spark copies onto every job
  * the thread starts, broadcast jobs included), plus SQL execution
  * wall times. Events arrive on the listener bus; call
  * `SparkInternals.drainListeners` before reading.
  */
final class LayerListener extends SparkListener {
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, TaskCounters]()
  private val sqlStart = new ConcurrentHashMap[Long, Long]()
  @volatile private var sqlDone = Vector.empty[(Long, Long)]

  private def bump(phase: String)(f: TaskCounters => TaskCounters): Unit =
    counters.compute(phase, (_, c) => f(if (c == null) TaskCounters() else c))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.PhaseKey)))
      .getOrElse("other")
    e.stageInfos.foreach(s => stagePhase.put(s.stageId, phase))
    bump(phase)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val phase = stagePhase.getOrDefault(e.stageInfo.stageId, "other")
    bump(phase)(c => c.copy(stages = c.stages + 1,
      singleTaskStages = c.singleTaskStages + (if (e.stageInfo.numTasks == 1) 1 else 0)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) bump(stagePhase.getOrDefault(e.stageId, "other")) { c =>
      c.copy(tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(x.executionId)).foreach(t0 => sqlDone :+= ((t0, x.time)))
    case _ =>
  }

  def snapshot(phase: String): TaskCounters =
    Option(counters.get(phase)).getOrElse(TaskCounters())

  def total: TaskCounters = counters.values.asScala.foldLeft(TaskCounters())(_ + _)

  /** Summed wall ms of the SQL executions that started at or after
    * `sinceMs` and have ended.
    */
  def sqlWallMsSince(sinceMs: Long): Long =
    sqlDone.iterator.filter(_._1 >= sinceMs).map { case (a, b) => b - a }.sum
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
}

/** Keeps the QueryExecution of each successful action, so the traced
  * run can read Catalyst's phase tracker and the executed plan's
  * SQL metrics.
  */
final class PlanListener extends QueryExecutionListener {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = q.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def drain(): Seq[QueryExecution] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
}

/** JVM-wide GC time and heap peak (in local mode all of Spark runs in
  * this JVM). The peak leaves out eden, which fills to the young
  * generation's size between collections whatever the program holds;
  * survivor plus old-generation space is what outlives a collection.
  */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      !p.getName.contains("Eden"))

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
