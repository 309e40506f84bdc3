package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters at one instant; a window's counts are `end - start`. */
final case class Snap(
    jobs: Long,
    tasks: Long,
    inBytes: Long,
    inRecords: Long,
    shuffleWrite: Long,
    shuffleRead: Long,
    cpuNs: Long,
    gcMs: Long,
    planMs: Long,
    actions: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, inBytes - o.inBytes,
    inRecords - o.inRecords, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    cpuNs - o.cpuNs, gcMs - o.gcMs, planMs - o.planMs, actions - o.actions)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "in_bytes" -> inBytes, "in_records" -> inRecords,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "plan_s" -> planMs / 1e3,
    "actions" -> actions)
}

/** Spark-listener tallies (jobs, task input, shuffle, CPU, GC, peak
  * execution memory) plus a query-execution listener that sums each
  * action's Catalyst phase times (analysis, optimization, planning).
  * Events arrive on the listener bus; call [[snap]] for a settled value.
  */
final class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(10)(new AtomicLong(0L))
  private val peak = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      c(1).incrementAndGet()
      c(2).addAndGet(m.inputMetrics.bytesRead)
      c(3).addAndGet(m.inputMetrics.recordsRead)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.executorCpuTime)
      c(7).addAndGet(m.jvmGCTime)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    c(8).addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    c(9).incrementAndGet()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Unit = ListenerSync.drain(spark.sparkContext)

  /** Drains the bus, then reads every counter. */
  def snap(): Snap = {
    drain()
    val v = c.map(_.get)
    Snap(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9))
  }

  def peakExecBytes: Long = peak.get
}

object Counters {
  def install(spark: SparkSession): Counters = {
    val c = new Counters(spark)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** One span: a timed call into a layer, its parent span and its operation.
  * Counters are the listener deltas between its two edges.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long,
    counts: Snap) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "start_ns" -> startNs, "end_ns" -> endNs, "s" -> seconds) ++ counts.toMap
}

/** In-memory span recorder. Every edge drains the listener bus so the
  * counters of the jobs run inside a span land on that span; the drain
  * happens outside the span's own clock and shows up as tracing overhead
  * in the enclosing operation.
  */
final class Trace(counters: Counters) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = 0

  /** A new operation: a root span with a fresh operation id. */
  def op[T](name: String)(body: => T): T = {
    require(stack.isEmpty, s"operation $name nested in a span")
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    val s0 = counters.snap()
    val t0 = System.nanoTime()
    stack = id :: stack
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, opId, name, t0, t1, counters.snap() - s0)
    }
  }
}

/** Minimal JSON rendering for the result record. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
