package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-side totals over a window of work, from task-end events. */
final case class Exec(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    peakTaskMem: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0) {
  def -(o: Exec): Exec = Exec(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, peakTaskMem, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords)

  /** The exec.* per-layer metrics of this window; `runS` is its execution
    * wall time on `cores` cores. */
  def layers(runS: Double, cores: Int): Map[String, Double] =
    Map("exec.run_s" -> runS, "exec.task_run_s" -> runMs / 1e3,
      "exec.task_cpu_s" -> cpuNs / 1e9, "exec.gc_s" -> gcMs / 1e3,
      "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.busy_frac" -> (if (runS > 0) runMs / 1e3 / (runS * cores) else 0.0),
      "exec.shuffle_write_mb" -> shuffleWrite / 1e6,
      "exec.shuffle_read_mb" -> shuffleRead / 1e6,
      "exec.spill_mb" -> spill / 1e6,
      "exec.peak_task_mem_mb" -> peakTaskMem / 1e6)
}

/** The benchmark's own listener: counts jobs, stages and tasks and sums
  * task metrics. `peakTaskMem` is the largest task peak since the last
  * [[ExecListener.resetPeak]]. */
final class ExecListener extends SparkListener {
  private var t = Exec()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1) else Exec(t.jobs, t.stages,
      t.tasks + 1, t.runMs + m.executorRunTime, t.cpuNs + m.executorCpuTime,
      t.gcMs + m.jvmGCTime, t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      math.max(t.peakTaskMem, m.peakExecutionMemory),
      t.inputBytes + m.inputMetrics.bytesRead,
      t.inputRecords + m.inputMetrics.recordsRead)
  }
  def totals: Exec = synchronized(t)
  def resetPeak(): Unit = synchronized { t = t.copy(peakTaskMem = 0) }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double)

/** Spans around calls into the engine's layers, plus the listener. Off
  * (the untraced run) it only evaluates the wrapped code: no listener is
  * registered and nothing is recorded. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1
  private val listener = new ExecListener
  private var on = enabled
  if (on) spark.sparkContext.addSparkListener(listener)

  private def nowMs = (System.nanoTime() - t0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val start = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, nowMs)
      }
    }

  /** Listener totals covering all work issued so far; with tracing off,
    * all zero. */
  def exec(): Exec =
    if (!on) listener.totals
    else { Internals.drainListenerBus(spark.sparkContext); listener.totals }

  def resetPeak(): Unit = listener.resetPeak()

  def recorded: Seq[Span] = spans.toSeq

  /** Stop recording (spans and listener) until [[resume]]. */
  def suspend(): Unit = if (on) {
    Internals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  def resume(): Unit = if (enabled && !on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  def close(): Unit = suspend()
}

object Clock {
  def now(): Double = System.nanoTime() / 1e9

  /** Seconds taken by `body`, and its value. */
  def timed[T](body: => T): (Double, T) = {
    val t = now(); val v = body; (now() - t, v)
  }
}
