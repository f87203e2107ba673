package erbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Run state shared by a workload: the session, the tracer, and the
  * operation counters behind `attempted`/`failed`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val tmp: Path) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()

  /** Run one operation: counted as attempted, and as failed when it
    * throws or any of its checks fails. Returns None on failure. */
  def attempt[T](what: String)(body: Checks => T): Option[T] = {
    attempted += 1
    val checks = new Checks
    val out =
      try Some(body(checks))
      catch {
        case e: Exception =>
          checks.fail(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    if (checks.failures.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${checks.failures.mkString("; ")}"
      None
    } else out
  }

  /** A fresh directory under the run's temp root. */
  def dir(name: String): String = {
    val d = tmp.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** Drop everything cached in the session: frames and persisted RDDs. */
  def unpersistAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

final class Checks {
  val failures = ArrayBuffer[String]()
  def fail(msg: String): Unit = failures += msg
  def require(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** A named metric as a user reads it. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** What a workload hands back: the end-to-end values under their
  * `BENCHMARK.json` names, the same numbers under their workload-specific names,
  * layer-specific counts for the traced run, and run details. */
final case class Outcome(e2e: Map[String, Double], named: Seq[Metric],
                         layer: Map[String, Double], info: Map[String, Any])

trait Workload {
  type State
  /** Name of the top-level span of the operation `op_p50_ms` times. */
  def measuredOp: String
  /** Inputs, stores and models; timed as `setup_s`. A run sets up once:
    * one set-up takes 20 s or more, and the whole benchmark has to fit
    * its time budget. */
  def setup(ctx: Ctx): State
  /** The closed loop: one unsampled warm-up operation of each kind, whose
    * top-level spans are named `<op>.warmup`, then the measured ones. */
  def run(ctx: Ctx, s: State): Outcome
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "er_pipeline" -> (() => new ErPipeline),
    "search_serve" -> (() => new SearchServe))

  /** End-to-end metrics every workload reports: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s",
    "heap_retained_mb" -> "MB", "recall" -> "ratio", "precision" -> "ratio")

  /** Spans around one public engine call each. */
  val LayerSpans: Seq[String] = Seq(
    "features", "blocking", "matching.train", "matching.score", "er.infer",
    "io.vacuum", "llm.bm25.serve", "llm.ann.serve", "llm.rrf",
    "llm.bm25.upsert", "llm.ann.upsert", "llm.bm25.delete", "llm.ann.delete")

  val SpanCounters: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "task_ms" -> "ms",
    "core_util" -> "ratio", "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes",
    "output_bytes" -> "bytes")

  /** Layer-specific metrics: name -> unit. */
  val LayerExtras: Seq[(String, String)] = Seq(
    "blocking.pairs" -> "count", "blocking.pairs_per_match" -> "ratio",
    "matching.score.pairs" -> "count", "matching.train.ms_per_job" -> "ms",
    "io.commits" -> "count", "io.gens_max" -> "count", "io.write_amp" -> "ratio",
    "io.space_amp" -> "ratio", "llm.ann.serve.input_bytes_per_query" -> "bytes",
    "op.wall_ms" -> "ms", "op.self_ms" -> "ms", "op.layer_share" -> "ratio")

  def perLayerNames: Seq[(String, String)] =
    LayerSpans.flatMap(s => SpanCounters.map { case (c, u) => s"$s.$c" -> u }) ++ LayerExtras

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def env(spark: Option[SparkSession]): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map("cores" -> rt.availableProcessors(), "heap_max_mb" -> rt.maxMemory() / 1048576.0,
      "jvm" -> System.getProperty("java.vm.version"),
      "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "spark" -> spark.map(_.version).getOrElse(""))
  }

  /** Driver heap in use after full collections. Spark's context cleaner
    * frees the blocks of collected broadcasts and RDDs asynchronously
    * after a GC, so collect until the reading stops falling. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    Thread.sleep(200)
    var cur = used()
    var i = 0
    while (prev - cur > 1.0 && i < 20) {
      prev = cur
      Thread.sleep(200)
      cur = used()
      i += 1
    }
    cur
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val tmp = Paths.get(arg(args, "--tmp").getOrElse(sys.error("--tmp required")))
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out required")))
    val mk = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val envStart = env(None)
    Files.createDirectories(tmp)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"erbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, tracer, seed, seconds, tmp)
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w = mk()
    var state: Option[w.State] = Some(w.setup(ctx))
    // process start to the end of set-up, before the warm-up operations
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val outcome = w.run(ctx, state.get)
    // retained = what survives once the run's own inputs, everything it
    // cached, and the listener bus backlog are released
    state = None
    ctx.unpersistAll()
    org.apache.spark.ErbenchAccess.drainListenerBus(spark.sparkContext)
    val heapMb = retainedHeapMb()
    val envEnd = env(Some(spark))
    spark.stop()

    val e2e = outcome.e2e ++ Map("setup_s" -> setupS, "heap_retained_mb" -> heapMb)
    val named = outcome.named ++ Seq(
      Metric("setup_s", setupS, "s", "process start to the end of set-up"),
      Metric("startup_s", startupS, "s", "process start to session ready, part of setup_s"),
      Metric("heap_retained_mb", heapMb, "MB", "after full GC at run end"),
      Metric("fail_ratio", Stats.Ratio(ctx.failed.toDouble, ctx.attempted.toDouble).value, "ratio",
        s"${ctx.failed}/${ctx.attempted} operations"))
    val layer =
      if (trace) layerMetrics(tracer.spans, listener, cores, w.measuredOp, outcome.layer)
      else Map.empty[String, Double]
    val correct = ctx.failed == 0 && EndToEnd.forall { case (n, _) => e2e.contains(n) }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "named" -> named.map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit,
        "note" -> m.note)),
      "e2e" -> e2e, "per_layer" -> layer, "env_start" -> envStart, "env_end" -> envEnd,
      "info" -> outcome.info,
      "spans" -> (if (trace) tracer.spans else Nil))
    Files.createDirectories(out)
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.writeString(out.resolve(s"$tag.json"), Json.write(record))

    ctx.failures.foreach(f => System.err.println(s"[erbench] check failed: $f"))
    named.foreach { m =>
      println(f"[erbench] $workload%-15s ${m.name}%-22s ${fmt(m.value)}%14s ${m.unit}%-6s ${m.note}")
    }
    val metrics =
      if (trace) perLayerNames.map { case (n, u) => n -> Map("value" -> layer.getOrElse(n, 0.0), "unit" -> u) }
      else EndToEnd.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }
    println(Json.write(Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics.toMap)))
  }

  private def fmt(v: Double): String =
    if (v.isNaN) "n/a" else if (math.abs(v) >= 1000 || v == math.rint(v)) f"$v%.1f" else f"$v%.4f"

  /** Per-layer metrics from the span tree and the listener's counters.
    * Per-call values are medians over the span's calls outside warm-up
    * operations; `core_util` is a ratio of sums over all of them. */
  def layerMetrics(spans: Seq[Span], l: LayerListener, cores: Int, measuredOp: String,
                   extra: Map[String, Double]): Map[String, Double] = {
    // warm-up operations are attributed, then left out of every figure
    val warm = spans.filter(s => s.parent == -1 && s.name.endsWith(".warmup")).map(_.op).toSet
    val costs = Attribution.costs(spans, l.jobs, l.taskRecs).filterNot(c => warm(c.span.op))
    val byName = costs.groupBy(_.span.name)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val perSpan = LayerSpans.flatMap { s =>
      val cs = byName.getOrElse(s, Nil)
      val selfSum = cs.map(_.selfMs).sum
      Seq(
        s"$s.wall_ms" -> med(cs.map(_.selfMs)),
        s"$s.jobs" -> med(cs.map(_.jobs.toDouble)),
        s"$s.tasks" -> med(cs.map(_.tasks.toDouble)),
        s"$s.task_ms" -> med(cs.map(_.taskMs.toDouble)),
        s"$s.core_util" -> (if (selfSum > 0) cs.map(_.taskMs).sum / (selfSum * cores) else 0.0),
        s"$s.shuffle_bytes" -> med(cs.map(_.shuffleBytes.toDouble)),
        s"$s.input_bytes" -> med(cs.map(_.inputBytes.toDouble)),
        s"$s.output_bytes" -> med(cs.map(_.outputBytes.toDouble)))
    }.toMap
    val ops = costs.filter(_.span.name == measuredOp)
    val train = byName.getOrElse("matching.train", Nil)
    val annServe = byName.getOrElse("llm.ann.serve", Nil)
    val derived = Map(
      "op.wall_ms" -> med(ops.map(_.span.durMs)),
      "op.self_ms" -> med(ops.map(_.selfMs)),
      "op.layer_share" -> (if (ops.nonEmpty)
        1.0 - ops.map(_.selfMs).sum / ops.map(_.span.durMs).sum else 0.0),
      "matching.train.ms_per_job" -> (if (train.nonEmpty && train.map(_.jobs).sum > 0)
        train.map(_.span.durMs).sum / train.map(_.jobs).sum else 0.0),
      "llm.ann.serve.input_bytes_per_query" -> (extra.get("queries_per_batch") match {
        case Some(q) if annServe.nonEmpty && q > 0 => med(annServe.map(_.inputBytes.toDouble)) / q
        case _ => 0.0
      }))
    perSpan ++ derived ++ extra.filter { case (k, _) => LayerExtras.exists(_._1 == k) }
  }
}
