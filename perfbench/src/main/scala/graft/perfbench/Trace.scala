package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-listener counters, summed over every job the benchmark's JVM runs.
  * Task metrics arrive asynchronously on the listener bus, so a reader that
  * needs exact deltas at a boundary calls [[Counters.settle]] first. */
final class Counters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs = new AtomicLong
  val inputBytes, shuffleReadBytes, shuffleWriteBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Current values, keyed by the per-layer metric they feed. */
  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "task_run_s" -> taskRunMs.get / 1e3,
    "task_cpu_s" -> taskCpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "input_mb" -> inputBytes.get / 1048576.0,
    "shuffle_read_mb" -> shuffleReadBytes.get / 1048576.0,
    "shuffle_write_mb" -> shuffleWriteBytes.get / 1048576.0)
}

object Counters {
  /** Block until the listener bus has delivered every posted event. The
    * bus's drain method is not part of Spark's public API, so it is
    * reached reflectively; if that fails the counters simply lag. */
  def settle(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => () }
}

/** One closed span. Times are nanoseconds on the JVM's monotonic clock;
  * `counters` holds the listener deltas between the span's boundaries. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long, counters: Map[String, Double])

/** In-memory span recorder. Disabled, it runs each body with no
  * bookkeeping; enabled, it records name, start, end, parent span and op id
  * for each span and settles the listener at both boundaries. Spans are
  * written out once, at the end of the run. Single-threaded by design: the
  * benchmark drives one client. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext],
    counters: Option[Counters]) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def spans: Seq[Span] = closed.toSeq

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      // settling happens inside the span's interval, so a parent's self
      // time holds no listener bookkeeping
      val t0 = System.nanoTime()
      sc.foreach(Counters.settle)
      val before = counters.map(_.snapshot).getOrElse(Map.empty)
      stack.push(id)
      try body
      finally {
        stack.pop()
        sc.foreach(Counters.settle)
        val after = counters.map(_.snapshot).getOrElse(Map.empty)
        val t1 = System.nanoTime()
        closed += Span(id, parent, name, op, t0, t1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }
}
