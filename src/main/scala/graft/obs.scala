package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.graftshim.Shim

/** Phase timing for the engine: `obs.span("gbt_fit") { ... }` names the
  * Spark jobs its body runs.
  *
  * The span path (`query/train/gbt_fit`) is a Spark local property, so it
  * rides on every job the body submits: jobs from the calling thread,
  * jobs Spark SQL submits from its broadcast and subquery pools (they
  * copy the caller's properties), and jobs from threads created inside
  * the body (they inherit them). A thread pool created before the span
  * would keep the path its threads were born with; the engine's pools
  * (feature fits, trial searches, ML's parallel fits) are created per
  * call, inside the caller's span.
  *
  * One table holds a row per path, however many calls it sees:
  *  - `span` adds the body's wall time, nested spans included;
  *  - a registered [[Listener]] adds each job, and each stage's tasks with
  *    their run time and io bytes, to the path the job was submitted
  *    under. That is the innermost span only, so jobs and tasks sum across
  *    a query's rows to the query's total. Work outside every span lands
  *    under the empty path.
  *
  * A span around a lazy DataFrame transformation times plan building
  * only, so spans sit where a stage runs its jobs. */
object obs {
  private val PathKey = "graft.span"

  /** One path's totals. `wallMs` is inclusive of nested spans; the job,
    * task and byte counts are the path's own. */
  final case class Row(path: String, calls: Long, wallMs: Double, jobs: Long,
                       tasks: Long, taskMs: Long, inputBytes: Long,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long,
                       outputBytes: Long) {
    def json: String =
      s"""{"path":"$path","calls":$calls,"wall_ms":${math.rint(wallMs * 10) / 10},""" +
        s""""jobs":$jobs,"tasks":$tasks,"task_ms":$taskMs,"input_bytes":$inputBytes,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"output_bytes":$outputBytes}"""
  }

  private final class Totals {
    val calls, wallNs, jobs, tasks, taskMs, inputBytes, shuffleReadBytes,
      shuffleWriteBytes, outputBytes = new LongAdder
    def row(path: String): Row = Row(path, calls.sum, wallNs.sum / 1e6, jobs.sum,
      tasks.sum, taskMs.sum, inputBytes.sum, shuffleReadBytes.sum,
      shuffleWriteBytes.sum, outputBytes.sum)
  }

  private val totals = new ConcurrentHashMap[String, Totals]()
  private def at(path: String): Totals = totals.computeIfAbsent(path, _ => new Totals)

  def span[T](name: String)(body: => T): T = {
    val sc = Shim.activeContext
    val parent = sc.map(_.getLocalProperty(PathKey)).orNull
    val path = if (parent == null) name else s"$parent/$name"
    sc.foreach(_.setLocalProperty(PathKey, path))
    val t0 = System.nanoTime()
    try body
    finally {
      val t = at(path)
      t.calls.increment()
      t.wallNs.add(System.nanoTime() - t0)
      sc.foreach(_.setLocalProperty(PathKey, parent))
    }
  }

  /** The rows recorded since the last drain, sorted by path; the table
    * starts empty again. Drain the listener bus first to see every job. */
  def drain(): Seq[Row] =
    totals.keySet.asScala.toSeq.sorted.flatMap(p => Option(totals.remove(p)).map(_.row(p)))

  /** Attributes jobs and stages to the span path in their properties. A
    * stage's tasks are added when the stage completes, from the metrics
    * Spark aggregates over them. */
  class Listener extends SparkListener {
    private val stagePath = new ConcurrentHashMap[Int, String]()
    private def pathOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty(PathKey))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit =
      at(pathOf(e.properties)).jobs.increment()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stagePath.put(e.stageInfo.stageId, pathOf(e.properties))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val t = at(Option(stagePath.remove(info.stageId)).getOrElse(""))
      t.tasks.add(info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        t.taskMs.add(m.executorRunTime)
        t.inputBytes.add(m.inputMetrics.bytesRead)
        t.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        t.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        t.outputBytes.add(m.outputMetrics.bytesWritten)
      }
    }
  }
}
