package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled from Spark's public listener events. */
final class OpLayers {
  var jobs, stages, tasks, failedTasks = 0L
  var delayMs, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L
  var executions, exchanges = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Busy intervals (epoch ms) of jobs and Catalyst phases. */
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Traced-run recorder: spans around public calls (kept in memory, written
  * out at the end) plus the listener job, stage, task and Catalyst-phase
  * records. Jobs reach their op through the job group the harness sets
  * before each op (`op-<n>`); query executions, whose listener events
  * carry no job group, are tied to the op whose wall window contains
  * them — ops run one at a time, so the window is exact. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final case class Span(op: Int, name: String, startMs: Long, endMs: Long)

  private val layers = new ConcurrentHashMap[Int, OpLayers]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  @volatile private var lastEventMs = System.currentTimeMillis()

  def layersOf(op: Int): OpLayers =
    layers.computeIfAbsent(op, _ => new OpLayers)

  private def opOfGroup(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.drop(3).toInt }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    opOfGroup(e.properties).foreach { op =>
      layersOf(op).synchronized(layersOf(op).jobs += 1)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobStart.put(e.jobId, (op, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      val l = layersOf(op)
      l.synchronized(l.busy += ((t0, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val l = layersOf(op)
      l.synchronized(l.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val l = layersOf(op)
      val m = e.taskMetrics
      val info = e.taskInfo
      l.synchronized {
        l.tasks += 1
        if (info.failed || info.killed) l.failedTasks += 1
        if (m != null) {
          l.runMs += m.executorRunTime
          l.cpuNs += m.executorCpuTime
          l.gcMs += m.jvmGCTime
          l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          l.spill += m.diskBytesSpilled
          l.inputBytes += m.inputMetrics.bytesRead
          l.outputBytes += m.outputMetrics.bytesWritten
          // the Spark UI's scheduler delay: task wall minus the time it
          // spent deserializing, running and shipping its result
          l.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  /** Attribute one finished query execution (planning phases and the
    * exchanges of its executed plan) to the op whose window holds it. */
  private def record(qe: QueryExecution): Unit = {
    lastEventMs = System.currentTimeMillis()
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).minOption
    val op = start.flatMap(t => opWindows.synchronized(
      opWindows.find { case (_, a, b) => t >= a && t <= b }.map(_._1)
        .orElse(openOp.collect { case (o, a) if t >= a => o })))
    op.foreach { o =>
      val l = layersOf(o)
      val ex = scala.util.Try(exchanges(qe.executedPlan)).getOrElse(0L)
      l.synchronized {
        l.executions += 1
        l.exchanges += ex
        phases.get("analysis").foreach(p => l.analysisMs += p.durationMs)
        phases.get("optimization").foreach(p =>
          l.optimizationMs += p.durationMs)
        phases.get("planning").foreach(p => l.planningMs += p.durationMs)
        phases.values.foreach(p => l.busy += ((p.startTimeMs, p.endTimeMs)))
      }
    }
  }

  private def exchanges(plan: SparkPlan): Long =
    collect(plan) { case e: Exchange => e }.size.toLong

  @volatile private var openOp: Option[(Int, Long)] = None

  /** Run `body` as op `n`: its jobs carry the op's job group. */
  def op[T](n: Int)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"op-$n", s"benchmark op $n",
      interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    openOp = Some((n, t0))
    try body
    finally {
      val t1 = System.currentTimeMillis()
      opWindows.synchronized(opWindows += ((n, t0, t1)))
      spans.synchronized(spans += Span(n, "op", t0, t1))
      openOp = None
      spark.sparkContext.clearJobGroup()
    }
  }

  /** A named span around one public call inside op `n`. */
  def span[T](n: Int, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally spans.synchronized(
      spans += Span(n, name, t0, System.currentTimeMillis()))
  }

  /** Wait until the asynchronous listener queues have delivered every
    * event of the recorded ops: quiet for 300 ms and no job open. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
      (!jobStart.isEmpty ||
        System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)
  def window(n: Int): Option[(Long, Long)] = opWindows.synchronized(
    opWindows.find(_._1 == n).map(w => (w._2, w._3)))

  /** Milliseconds of [a, b] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = ivs.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      .filter { case (x, y) => y > x }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (x, y) =>
      if (!open) { curS = x; curE = y; open = true }
      else if (x <= curE) curE = math.max(curE, y)
      else { total += curE - curS; curS = x; curE = y }
    }
    if (open) total += curE - curS
    total
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
