package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Execution counts of everything a session runs inside a window: the
  * numbers that say where a query's time goes. A 3000-line plan with 150
  * Exchanges may still run few stages if AQE reuses them; only these
  * counts settle it. Each window edge drains the listener bus first, so
  * one window's events never land in the next.
  *
  * Installed on `sc` when built; [[close]] removes it.
  */
final class QueryTally(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, inputBytes, inputRecords, shuffleReadBytes,
    shuffleWriteBytes, spillBytes, runMs, cpuMs, gcMs = new AtomicLong(0L)
  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks.toLong)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    inputRecords.addAndGet(m.inputMetrics.recordsRead)
    shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    runMs.addAndGet(m.executorRunTime)
    cpuMs.addAndGet(m.executorCpuTime / 1000000L)
    gcMs.addAndGet(m.jvmGCTime)
  }

  /** Starts a new window: every count back to 0. */
  def reset(): Unit = {
    ListenerSync.drain(sc)
    Seq(jobs, stages, tasks, inputBytes, inputRecords, shuffleReadBytes, shuffleWriteBytes,
      spillBytes, runMs, cpuMs, gcMs).foreach(_.set(0L))
  }

  /** The counts since the last [[reset]]. */
  def counts(): QueryTally.Counts = {
    ListenerSync.drain(sc)
    QueryTally.Counts(jobs.get, stages.get, tasks.get, inputBytes.get, inputRecords.get,
      shuffleReadBytes.get, shuffleWriteBytes.get, spillBytes.get, runMs.get, cpuMs.get, gcMs.get)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object QueryTally {
  final case class Counts(
      jobs: Long,
      stages: Long,
      tasks: Long,
      inputBytes: Long,
      inputRecords: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      runMs: Long,
      cpuMs: Long,
      gcMs: Long) {

    /** One JSON object, keyed by the field names. */
    def toJson: String =
      productElementNames.zip(productIterator)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
  }

  /** `body`'s result and the counts of what it ran. */
  def around[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val t = new QueryTally(sc)
    try {
      t.reset()
      val out = body
      (out, t.counts())
    } finally t.close()
  }
}
