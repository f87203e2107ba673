package erbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval. `startMs`/`endMs` are wall-clock milliseconds (the
  * clock Spark stamps job and task events with); `durNs` is the precise
  * duration from the monotonic clock. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, endMs: Long, durNs: Long) {
  def durMs: Double = durNs / 1e6
}

/** In-memory span recorder. Spans nest by call structure and are written
  * out only when the run ends.
  *
  * Attribution of Spark jobs and tasks to spans is by event time, so a
  * job must never share a millisecond with a span boundary. Each
  * boundary therefore waits for the clock to tick before and after it is
  * stamped: no job can start in a boundary's millisecond, because the only
  * client thread is spinning through it and no call is in flight. The
  * spin is part of the tracing overhead; a disabled tracer runs the body
  * bare. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long, Long)] = Nil // id, name, startMs, startNs
  private var nextId = 0
  private var currentOp = -1
  private var lastBoundaryMs = Long.MinValue

  def spans: Seq[Span] = done.toSeq

  private def boundary(): Long = {
    var now = System.currentTimeMillis()
    while (now <= lastBoundaryMs) now = System.currentTimeMillis()
    val stamped = now
    while (System.currentTimeMillis() <= stamped) {}
    lastBoundaryMs = stamped
    stamped
  }

  /** Time `body` as span `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, boundary(), System.nanoTime()) :: stack
      try body
      finally {
        val endNs = System.nanoTime()
        val (_, _, sMs, sNs) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, parent, currentOp, sMs, boundary(), endNs - sNs)
      }
    }

  /** Time one operation of the closed loop: a top-level span whose
    * children share its operation id. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    try span(name)(body) finally currentOp = -1
  }
}

/** Spark counters of one job start or task end, as the listener saw it. */
final case class TaskRec(launchMs: Long, runMs: Long, shuffleBytes: Long,
                         inputBytes: Long, outputBytes: Long)

/** Collects job starts and task ends. Attribution to spans happens after
  * the session stops, when the listener bus has delivered every event. */
final class LayerListener extends SparkListener {
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
  }

  def jobs: Seq[Long] = jobStarts.asScala.map(_.longValue).toSeq
  def taskRecs: Seq[TaskRec] = tasks.asScala.toSeq
}

/** Per-span-instance counters after attribution. */
final case class SpanCost(span: Span, selfMs: Double, jobs: Int, tasks: Int,
                          taskMs: Long, shuffleBytes: Long, inputBytes: Long,
                          outputBytes: Long)

object Attribution {

  /** The innermost span whose closed interval holds `t`: the deepest
    * containing span, which for properly nested spans is the one that
    * started last. */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => (s.startMs, s.id)).lastOption

  /** Total length of the union of intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time: a span's duration minus the part its direct children
    * cover. Child intervals are placed on the parent's monotonic time
    * axis through their wall-clock offsets (clamped to the parent). */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val covered = unionLength(children.map { c =>
      val s = math.max(0.0, (c.startMs - span.startMs).toDouble)
      val e = math.min(span.durMs, s + c.durMs)
      (s, e)
    })
    math.max(0.0, span.durMs - covered)
  }

  /** Attribute every job and task to its innermost span; events outside
    * every span (the benchmark's own checks) are dropped. */
  def costs(spans: Seq[Span], jobStarts: Seq[Long], tasks: Seq[TaskRec]): Seq[SpanCost] = {
    val byParent = spans.groupBy(_.parent)
    val jobsBy = jobStarts.flatMap(t => innermost(spans, t)).groupBy(_.id)
    val tasksBy = tasks.flatMap(r => innermost(spans, r.launchMs).map(_.id -> r))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    spans.map { s =>
      val ts = tasksBy.getOrElse(s.id, Nil)
      SpanCost(s, selfMs(s, byParent.getOrElse(s.id, Nil)),
        jobsBy.get(s.id).map(_.size).getOrElse(0), ts.size,
        ts.map(_.runMs).sum, ts.map(_.shuffleBytes).sum,
        ts.map(_.inputBytes).sum, ts.map(_.outputBytes).sum)
    }
  }
}
