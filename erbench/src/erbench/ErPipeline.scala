package erbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.ml.PipelineModel
import graft.er.EntityResolution
import graft.er.EntityResolution.{Config, FittedPipelines}
import graft.io.IO

/** The reference's three notebooks in order. Set-up is the batch flow:
  * two catalogs in, features, LSH blocking with labeled candidates, a
  * GBT, every candidate scored and ranked out, and the feature store
  * written. The measured loop is notebook 03's incremental
  * inference: small batches of updated and new side-A rows, with a
  * periodic vacuum of the store. */
final class ErPipeline extends Workload {
  import ErPipeline._

  val measuredOp = "er_pipeline.infer"

  final case class State(storePath: String, pipes: FittedPipelines, model: PipelineModel,
                         cat: Gen.Catalogs, batch: Outcome, rowBytes: Double)

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    val t = ctx.tracer
    val cat = GenCheck.catalogs(ctx.seed, SideA, DupRate, DistractorRate)
    val dir = ctx.dir("setup")
    Frames.catalogs(spark, cat.a, cat.b).write.parquet(s"$dir/catalogs")
    Frames.pairs(spark, cat.golden).write.parquet(s"$dir/golden")
    val storePath = s"$dir/store"
    val t0 = System.nanoTime()
    var matchS = 0.0
    val (pipes, trained, ranked, nPairs) = t.op(0, "er_pipeline.setup") {
      val (pipes, feats) = t.span("features") {
        val (p, f) = EntityResolution.fitFeatureModels(spark.read.parquet(s"$dir/catalogs"), cfg)
        f.persist()
        f.count()
        (p, f)
      }
      val (labeled, nPairs) = t.span("blocking") {
        val l = EntityResolution.labeledCandidates(feats,
          spark.read.parquet(s"$dir/golden"), cfg).persist()
        (l, l.count())
      }
      val trained = t.span("matching.train") { EntityResolution.train(feats, labeled, cfg) }
      val ranked = t.span("matching.score") {
        EntityResolution.scoreAll(feats, labeled.select("idA", "idB"), trained.model)
          .select("idA", "idB", "match_score").collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      }
      matchS = (System.nanoTime() - t0) / 1e9
      EntityResolution.writeFeatureStore(feats, storePath, cfg)
      (pipes, trained, ranked, nPairs)
    }
    ctx.unpersistAll()
    val batch = checkBatch(ctx, cat, ranked, nPairs, matchS)
    val rows = (cat.a.size + cat.b.size).toLong
    State(storePath, pipes, trained.model, cat, batch, StoreFiles.bytes(storePath).toDouble / rows)
  }

  /** The batch match's own checks and quality, counted as one operation. */
  private def checkBatch(ctx: Ctx, cat: Gen.Catalogs, ranked: Array[((Long, Long), Double)],
                         nPairs: Long, matchS: Double): Outcome = {
    val truth = cat.truth.toSet
    val heldOut = truth -- cat.golden
    val idsA = cat.a.map(_.id).toSet
    val idsB = cat.b.map(_.id).toSet
    val pairs = ranked.map(_._1).toSet
    val recall = Stats.Ratio(heldOut.count(pairs).toDouble, heldOut.size.toDouble)
    val precision = Stats.precisionAtR(ranked.toSeq, truth, truth.size)
    ctx.attempt("batch match") { c =>
      c.require(ranked.length.toLong == nPairs, s"${ranked.length} scored rows for $nPairs candidates")
      c.require(pairs.size == ranked.length, "a candidate pair was scored twice")
      c.require(ranked.forall(r => r._2 >= 0.0 && r._2 <= 1.0), "score outside [0, 1]")
      c.require(ranked.iterator.sliding(2).withPartial(false).forall(w => w(0)._2 >= w(1)._2),
        "ranked output not in descending score order")
      c.require(pairs.forall { case (a, b) => idsA(a) && idsB(b) }, "pair id outside the catalogs")
      c.require(cat.golden.forall(pairs), "a labeled pair is missing from the candidates")
      c.require(recall.value >= QualityFloor, f"blocking recall ${recall.value}%.3f below $QualityFloor")
      c.require(precision.value >= QualityFloor,
        f"match precision ${precision.value}%.3f below $QualityFloor")
    }
    Outcome(
      e2e = Map("recall" -> recall.value, "precision" -> precision.value),
      named = Seq(
        Metric("match_s", matchS, "s", s"one batch pass, ${cat.a.size + cat.b.size} catalog rows, in set-up"),
        Metric("blocking_recall", recall.value, "ratio",
          s"${recall.num.toLong}/${recall.den.toLong} unlabeled true pairs among candidates"),
        Metric("match_precision", precision.value, "ratio",
          f"${precision.num}%.1f/${precision.den.toLong} true pairs in the top R, ties at the cut shared")),
      layer = Map("blocking.pairs" -> nPairs.toDouble,
        "blocking.pairs_per_match" -> nPairs.toDouble / math.max(1, truth.count(pairs)),
        "matching.score.pairs" -> ranked.length.toDouble),
      info = Map("generator" -> cat.props, "blocking_recall" -> recall,
        "match_precision" -> precision, "config" -> cfg.toString))
  }

  def run(ctx: Ctx, st: State): Outcome = {
    val spark = ctx.spark
    val cat = st.cat
    val traced = ctx.tracer.enabled
    val r = new SplittableRandom(ctx.seed * 31 + 7)
    val truthOf: Map[Long, Long] = (cat.truth ++ cat.spareTruth).toMap
    val idsB = cat.b.map(_.id).toSet
    val current = mutable.LinkedHashMap(cat.a.map(p => p.id -> p): _*)
    val spare = mutable.Queue(cat.spare: _*)
    var nextId = 900000L
    var storeRows = (cat.a.size + cat.b.size).toLong
    val lat = mutable.ArrayBuffer[Double]()
    var rowsDone = 0L
    var recall = Stats.Ratio.Zero
    var precision = Stats.Ratio.Zero
    var writeAmp = Stats.Ratio.Zero
    var spaceAmp = Stats.Ratio.Zero
    val commits = mutable.ArrayBuffer[Double]()
    var gensMax = 0.0
    var lastVersion = if (traced) IO.storeVersions(spark, st.storePath).max else 0

    /** Notebook 03's batch: a sample of the side-A catalog with new
      * prices, plus as many new side-A rows. Updates go to rows side B
      * also holds, so every batch row has a truth. */
    def batch(): Seq[Gen.Product] = {
      val ids = current.keys.filter(truthOf.contains).toVector
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < Updates) picked += ids(r.nextInt(ids.size))
      val updated = picked.toSeq.map { id =>
        current(id).copy(price = Gen.priceString(900.0 + r.nextInt(120000) / 100.0))
      }
      val fresh = (0 until Inserts).map { _ =>
        if (spare.nonEmpty) spare.dequeue()
        else {
          nextId += 1
          Gen.catalogs(ctx.seed * 1000003L + nextId, 1, 0.0, 0.0).a.head.copy(id = nextId)
        }
      }
      updated ++ fresh
    }

    /** One operation: the periodic vacuum when it is due, then the batch,
      * timed together because the batch waits for the vacuum. The
      * warm-up operation is checked but not sampled. */
    def step(k: Int, warmup: Boolean): Unit = {
      val rows = batch()
      val vacuum = k % VacuumEvery == 0
      val filesBefore = if (traced) StoreFiles.list(st.storePath) else Map.empty[String, Long]
      ctx.attempt("infer batch") { c =>
        val t0 = System.nanoTime()
        // op 0 is the set-up
        val out = ctx.tracer.op(k + 1, if (warmup) s"$measuredOp.warmup" else measuredOp) {
          if (vacuum) ctx.tracer.span("io.vacuum") {
            IO.vacuumPartitionedStore(spark, st.storePath, orphanGraceMs = 0L)
          }
          ctx.tracer.span("er.infer") {
            EntityResolution.inferIncremental(Frames.products(spark, rows), st.storePath,
                st.pipes, st.model, cfg)
              .select("idA", "idB", "match_score").collect()
              .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
          }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val batchIds = rows.map(_.id).toSet
        val newIds = batchIds -- current.keySet
        c.require(out.forall(x => batchIds(x._1._1)), "scored idA outside the batch")
        c.require(out.forall(x => idsB(x._1._2)), "scored idB outside side B")
        c.require(out.forall(x => x._2 >= 0.0 && x._2 <= 1.0), "score outside [0, 1]")
        c.require(out.map(_._1).distinct.length == out.length, "pair scored twice")
        rows.foreach(p => current(p.id) = p)
        storeRows += newIds.size
        val (n, distinct) = StoreFiles.rowCounts(spark, st.storePath)
        c.require(n == storeRows, s"store holds $n rows; the model says $storeRows")
        c.require(distinct == n, s"store holds ${n - distinct} duplicate keys")
        if (!warmup) {
          val truePairs = rows.flatMap(p => truthOf.get(p.id).map(p.id -> _)).toSet
          recall += Stats.Ratio(out.count(x => truePairs(x._1)).toDouble, truePairs.size.toDouble)
          precision += Stats.precisionAtR(out.toSeq, truePairs, truePairs.size)
          lat += ms
          rowsDone += rows.size
        }
      }
      if (traced) {
        val v = IO.storeVersions(spark, st.storePath).max
        if (!warmup) {
          val files = StoreFiles.list(st.storePath)
          val added = files.collect { case (p, s) if !filesBefore.contains(p) => s }.sum
          writeAmp += Stats.Ratio(added.toDouble, rows.size * st.rowBytes)
          spaceAmp += Stats.Ratio(files.values.sum.toDouble, storeRows * st.rowBytes)
          commits += (v - lastVersion).toDouble
          gensMax = math.max(gensMax,
            IO.storeBucketGenerations(spark, st.storePath).values.max.toDouble)
        }
        lastVersion = v
      }
    }

    step(0, warmup = true)
    // whole vacuum cycles, at least MinBatches batches; the counts, not
    // --seconds, bound the loop unless the batches get much faster
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var k = 1
    while (k <= MinBatches || System.nanoTime() < deadline || (k - 1) % VacuumEvery != 0) {
      step(k, warmup = false)
      k += 1
    }
    val busyS = lat.sum / 1e3
    val p50 = if (lat.isEmpty) Double.NaN else Stats.median(lat.toSeq)
    val p90 = if (lat.isEmpty) Double.NaN else Stats.percentile(lat.toSeq, 90.0)
    val tail = Stats.tail(lat.toSeq)
    val b = st.batch
    Outcome(
      e2e = b.e2e ++ Map("op_p50_ms" -> p50, "work_per_s" -> rowsDone / busyS),
      named = b.named ++ Seq(
        Metric("infer_p50_ms", p50, "ms", s"n=${lat.size} after one warm-up batch"),
        Metric("infer_p90_ms", p90, "ms",
          s"n=${lat.size}, ${Stats.beyond(lat.size, 90.0)} beyond; highest supported: " +
            tail.map(x => s"p${x.pct}").getOrElse("none")),
        Metric("infer_rows_per_s", rowsDone / busyS, "1/s",
          f"$rowsDone rows in $busyS%.1f s of batches, a vacuum every $VacuumEvery"),
        Metric("infer_recall", recall.value, "ratio",
          s"${recall.num.toLong}/${recall.den.toLong} true pairs of batch rows scored"),
        Metric("infer_precision", precision.value, "ratio",
          f"${precision.num}%.1f/${precision.den.toLong} true pairs in each batch's top R")),
      layer = b.layer ++ Map(
        "io.commits" -> (if (commits.isEmpty) 0.0 else Stats.median(commits.toSeq)),
        "io.gens_max" -> gensMax,
        "io.write_amp" -> writeAmp.value,
        "io.space_amp" -> spaceAmp.value),
      info = b.info ++ Map("batch_ms" -> lat.toSeq,
        "batch_rows" -> (Updates + Inserts), "vacuum_every" -> VacuumEvery,
        "infer_recall" -> recall, "infer_precision" -> precision, "write_amp" -> writeAmp,
        "space_amp" -> spaceAmp, "store_rows" -> storeRows, "tail" -> tail))
  }
}

object ErPipeline {
  /** The engine defaults with two changes. Description blocking is off:
    * the generated descriptions are TPC-H part types, a low-cardinality
    * column on which blocking admits nearly every pair. The GBT grid is
    * the single point (maxIter 10, maxDepth 3): training is bound by
    * Spark job count, and the default 2×2 grid's ~360 jobs take 20 to
    * 50 s on 4 cores, more than a run can spend. */
  val cfg: Config = Config(descriptBlocking = false,
    gbtMaxIterGrid = Seq(10), gbtMaxDepthGrid = Seq(3))
  val SideA = 300
  val DupRate = 0.6
  val DistractorRate = 0.3
  /** Notebook 03 (03:455) simulates its new or updated products with
    * `sample(fraction = 0.01)` of the side-A catalog. A batch updates
    * that share of side A, as a fixed count so every batch is the same
    * size, and adds as many new rows: an even split the notebook does not
    * fix. */
  val SampleFraction = 0.01
  val Updates: Int = math.max(1, math.round(SampleFraction * SideA).toInt)
  val Inserts: Int = Updates
  /** The notebook has no vacuum step; every second batch is a chosen
    * schedule. */
  val VacuumEvery = 2
  /** Measured batches after the warm-up: two vacuum cycles. */
  val MinBatches = 4
  /** Sanity floor on batch output quality: below it the match fails. */
  val QualityFloor = 0.5
}

/** The store as files on disk and as rows, read independently of the
  * engine's own bookkeeping. */
object StoreFiles {
  def list(path: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(path))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def bytes(path: String): Long = list(path).values.sum

  /** (rows, distinct (table, id) keys) of the committed store. */
  def rowCounts(spark: org.apache.spark.sql.SparkSession, path: String): (Long, Long) = {
    val row = IO.readPartitionedStore(spark, path)
      .selectExpr("count(*)", "count(distinct table, id)").head()
    (row.getLong(0), row.getLong(1))
  }
}
