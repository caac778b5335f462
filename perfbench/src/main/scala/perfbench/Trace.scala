package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval: a layer call (or a whole op) with its parent span
  * and the op it belongs to. Times are System.nanoTime readings.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long)

/** Spark work attributed to one span. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskNs, cpuNs, gcMs = 0L
  var inputBytes, inputRows, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_ms" -> taskNs / 1000000L,
    "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Attributes every job, stage and task to the span that was current on
  * the submitting thread, read from the job's local properties.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val counts = mutable.HashMap.empty[Long, Counts]

  private def of(span: Long): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).foreach { s =>
        of(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = of(s)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[Long, Map[String, Long]] = synchronized {
    counts.map { case (k, v) => k -> v.toMap }.toMap
  }
}

/** Span recorder for one client thread. Disabled, `span` only runs its
  * body: no listener, no local property, no bookkeeping, so the untraced
  * run measures the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, Long)] = Nil // (id, name, start)
  private var nextId = 0L
  val listener: SpanListener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(-1L)
      val previous = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = System.nanoTime()
      stack = (id, name, start) :: stack
      try body
      finally {
        spans += Span(id, name, parent, op, start, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, previous)
      }
    }

  /** Deliver every pending listener event; call before reading counts. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def recorded: Seq[Span] = spans.toSeq

  def counts: Map[Long, Map[String, Long]] = {
    drain()
    listener.snapshot
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"
}
