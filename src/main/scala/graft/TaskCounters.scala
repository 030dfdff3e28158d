package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One reading of [[TaskCounters]]; `b - a` is what ran in between. */
final case class TaskCounts(shuffleRead: Long, shuffleWrite: Long,
    spill: Long, jobs: Long, stages: Long, tasks: Long, compiles: Long) {
  def -(o: TaskCounts): TaskCounts = TaskCounts(shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, compiles - o.compiles)
}

/** Cumulative data movement (shuffle read/write, memory + disk spill) and
  * job/stage/task counts of one session, for the bench mains: bytes show
  * the spill class that seconds hide, and job counts show per-job fixed
  * cost. `compiles` counts the classes Spark's code generator compiled
  * (JVM-wide, read from `CodegenMetrics`): a steady pass compiles none
  * unless its working set overflows the class cache
  * (`GraftSession.CodegenCacheEntries`). Listener events land
  * asynchronously, so `drain()` before a `snapshot()` that closes a
  * window.
  */
final class TaskCounters private (spark: SparkSession) extends SparkListener {
  private val shufRead, shufWrite, spill, jobs, stages, tasks = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled): Unit
    }
  }

  def snapshot(): TaskCounts = TaskCounts(shufRead.get, shufWrite.get,
    spill.get, jobs.get, stages.get, tasks.get, TaskCounters.compiles)

  /** Wait (up to 5 s) until every queued listener event is dispatched. */
  def drain(): Unit = org.apache.spark.graft.ListenerDrain
    .waitUntilEmpty(spark.sparkContext, 5000): Unit
}

object TaskCounters {
  /** Classes Spark's code generator has compiled in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def register(spark: SparkSession): TaskCounters = {
    val c = new TaskCounters(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
