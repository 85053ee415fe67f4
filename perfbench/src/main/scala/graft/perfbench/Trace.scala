package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Scheduler work done between two points: what the benchmark's own
  * listener saw. Byte counts are bytes; times are as named. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    taskMaxMs: Long = 0, taskMedianMs: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes)
}

/** Counts jobs, stages, tasks, task time, shuffle and spill for the
  * whole session. Task durations are kept per interval so a span can
  * report its straggler ratio (max / median task time). */
final class CountingListener extends SparkListener {
  private var c = Counts()
  private val durations = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    durations += e.taskInfo.duration
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = c.spillBytes + m.diskBytesSpilled)
  }

  /** Totals so far, after every queued event has been delivered. The
    * task durations since the previous snapshot set max / median. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val d = durations.sorted
      durations.clear()
      if (d.isEmpty) c
      else c.copy(taskMaxMs = d.last, taskMedianMs = d((d.length - 1) / 2))
    }
  }
}

/** One timed interval: the workload (id 0), an op, or a phase of an op.
  * Spans of one op share `op`; `counts` is the scheduler work inside. */
final case class Span(id: Int, parent: Int, op: Int, name: String, key: String,
                      startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory; `counts` are read only when tracing, since
  * draining the listener bus is itself a cost. Straggler figures cover
  * the span's own interval, so on an op span they cover its last phase. */
final class Tracer(sc: SparkContext, listener: Option[CountingListener]) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def traced: Boolean = listener.isDefined

  /** Run `body` with the listener registered, when tracing. */
  def listening[T](body: => T): T = listener match {
    case None => body
    case Some(l) =>
      sc.addSparkListener(l)
      try body finally sc.removeSparkListener(l)
  }

  def newId(): Int = { val id = nextId; nextId += 1; id }

  private def counts(): Counts = listener.fold(Counts())(_.snapshot(sc))

  /** Time `body` as span `name` under `parent`; `body` gets the new
    * span's id, to parent its own children. Returns its value and span. */
  def span[T](parent: Int, op: Int, name: String, key: String)(body: Int => T): (T, Span) = {
    val id = newId()
    val c0 = counts()
    val t0 = System.nanoTime()
    val v = body(id)
    val t1 = System.nanoTime()
    val c1 = counts()
    val d = (c1 - c0).copy(taskMaxMs = c1.taskMaxMs, taskMedianMs = c1.taskMedianMs)
    val s = Span(id, parent, op, name, key, t0, t1, d)
    spans += s
    (v, s)
  }
}
