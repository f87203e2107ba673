package graft.matching

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.obs

/** M2-M6 + X2 — train/tune/evaluate/score the pair classifier (ref
  * `03_Train & Deploy Model.py:120-314,434-446,567-579`).
  *
  * Substitutions recorded in SURVEY §7.6: GBTClassifier for XGBoost (same
  * gradient-boosted-tree family), native `.transform` scoring for the
  * pyfunc UDF. Training has one fit ([[fit]]) and one search loop
  * ([[withSearchContext]]) behind the reference's hyperopt TPE: batch TPE
  * ([[trainTpe]]), successive halving ([[trainHalving]]) and an explicit
  * grid ([[trainGridMemo]]). Training never leaves Spark — the reference's
  * `toPandas()` export (`03:120`) is exactly the driver-side collect this
  * engine forbids at scale.
  */
object Matcher {

  val FeatureCols: Array[String] = Array("name_sqdist", "descript_sqdist", "price_sqdist")

  /** M2 — stratified split by label, seeded (`03:130-142`'s 70/15/15).
    *
    * One windowed pass: every row draws a seeded uniform, rows are ranked
    * within their label stratum by the draw, and split membership is the
    * rank's position against the cumulative-fraction thresholds of the
    * stratum size. This is EXACT proportional allocation — each split gets
    * `round(cum_frac_i · n_label) - round(cum_frac_{i-1} · n_label)` rows
    * of every stratum, so the class ratio is preserved up to rounding in
    * every split (a Bernoulli `randomSplit` per stratum only preserves it
    * in expectation) and the splits partition the input exactly.
    *
    * Cost: ONE shuffle (hash-partition by label) shared by the rank and the
    * stratum-count windows, then a narrow filter per returned frame — where
    * the previous formulation collected the distinct labels on the driver
    * and re-scanned the input once per stratum (k+1 passes). A hot stratum
    * serializes through one task's sort, the same bound as any keyed
    * window; for the binary-label pair corpus that is a non-issue.
    *
    * Like `randomSplit`, the input is sorted within each partition before
    * the draw, so re-evaluating the (possibly uncached, shuffle-derived)
    * plan for each returned frame yields the same per-row draw even if
    * shuffle-read merge order differs between actions — without this, a
    * row could land in two splits or none. Assignment is deterministic per
    * (seed, partitioning); re-partitioning the input changes it. Use
    * [[withHashSplit]] when resharding-stable membership is required. */
  def stratifiedSplit(df: DataFrame, fractions: Seq[Double], labelCol: String = "label",
                      seed: Long = 42L): Seq[DataFrame] = {
    require(math.abs(fractions.sum - 1.0) < 1e-9)
    val edges = fractions.scanLeft(0.0)(_ + _).tail
    val byLabel = Window.partitionBy(labelCol)
    // sort key = every orderable column (vector/map columns can't sort and
    // contribute nothing to a canonical order)
    val sortCols = df.schema.fields.filter(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name)).toIndexedSeq
    val tagged = df
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__draw", rand(seed))
      .withColumn("__rn", row_number().over(byLabel.orderBy(col("__draw"))))
      .withColumn("__n", count(lit(1)).over(byLabel))
    fractions.indices.map { i =>
      val lo = if (i == 0) lit(0L)
               else round(col("__n") * edges(i - 1)).cast("long")
      val hi = if (i == fractions.size - 1) col("__n").cast("long")
               else round(col("__n") * edges(i)).cast("long")
      tagged.where(col("__rn") > lo && col("__rn") <= hi).drop("__draw", "__rn", "__n")
    }
  }

  /** M2 variant — deterministic content-hash split: bucket = first 24 md5
    * bits of the concatenated key, split by cumulative-fraction thresholds
    * over 1000 buckets. Unlike the seeded Bernoulli `randomSplit`, this is
    * reproducible across engines, runs, AND repartitions — the property a
    * training pipeline needs so a row never migrates between train and
    * test when the corpus is re-sharded. Narrow map, no shuffle, no RNG
    * state; fully DuckDB-oracle-checkable. */
  def withHashSplit(df: DataFrame, keyCols: Seq[String], fractions: Seq[Double],
                    outCol: String = "split"): DataFrame = {
    require(math.abs(fractions.sum - 1.0) < 1e-9)
    val bucket = conv(substring(md5(concat_ws("_", keyCols.map(col): _*)), 1, 6), 16, 10)
      .cast("long") % 1000
    val edges = fractions.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * 1000).toInt)
    val expr = edges.init.zipWithIndex.reverse.foldLeft(lit(edges.size - 1)) {
      case (acc, (edge, i)) => when(bucket < edge, i).otherwise(acc)
    }
    df.withColumn(outCol, expr)
  }

  /** M3 — 'balanced' class weights as a weight column (`03:156-161`). */
  def addClassWeights(df: DataFrame, labelCol: String = "label",
                      weightCol: String = "weight"): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("tot"), count(lit(1)).as("k"))
    // balanced weight = total / (numClasses * classCount)
    df.join(broadcast(counts), Seq(labelCol))
      .crossJoin(broadcast(total))
      .withColumn(weightCol, col("tot").cast("double") / (col("k") * col("n")))
      .drop("n", "tot", "k")
  }

  /** A point in the boosted-tree hyperparameter space searched by
    * [[trainHalving]]/[[trainTpe]], covering the reference's
    * 9-dimensional hyperopt space (`03_Train & Deploy Model.py:164-174`)
    * dim for dim: maxDepth ≈ max_depth, stepSize ≈ learning_rate,
    * minInfoGain ≈ gamma (minimum loss reduction to split — the same
    * knob under Spark's name), minInstancesPerNode ≈ min_child_weight,
    * subsamplingRate ≈ subsample, featureSubsetStrategy ≈ the three
    * colsample_by{tree,level,node} dims COLLAPSED into one — Spark's
    * tree learner has exactly one column-sampling granularity (features
    * considered per split node), so the reference's three-granularity
    * ladder structurally maps onto a single knob here — and weightScale
    * ≈ scale_pos_weight (a multiplier on the positive class's balanced
    * weight). The iteration count (≈ n_estimators) is NOT a dimension —
    * it is the successive-halving BUDGET axis (more boosting rounds =
    * more budget), the standard mapping for tree ensembles. The
    * post-round-11 dims default to the GBT library defaults so a bare
    * `GbtCandidate(d, s, ss)` means exactly what it did before. */
  case class GbtCandidate(maxDepth: Int, stepSize: Double, subsamplingRate: Double,
                          minInstancesPerNode: Int = 1,
                          featureSubsetStrategy: String = "all",
                          weightScale: Double = 1.0,
                          minInfoGain: Double = 0.0)

  private def assembler: VectorAssembler = new VectorAssembler().setInputCols(FeatureCols)
    .setOutputCol("features").setHandleInvalid("keep")

  private def gbtFor(seed: Long, c: GbtCandidate, iters: Int): GBTClassifier =
    new GBTClassifier().setLabelCol("label").setWeightCol("weight")
      .setFeaturesCol("features").setSeed(seed)
      .setMaxIter(iters).setMaxDepth(c.maxDepth)
      .setStepSize(c.stepSize).setSubsamplingRate(c.subsamplingRate)
      .setMinInstancesPerNode(c.minInstancesPerNode)
      .setFeatureSubsetStrategy(c.featureSubsetStrategy)
      .setMinInfoGain(c.minInfoGain)

  /** `weightScale` applies as a narrow derived column (positive-class
    * weights × scale — the scale_pos_weight semantics); at the default 1.0
    * the input frame passes through untouched. */
  private def scaleWeights(c: GbtCandidate, df: DataFrame): DataFrame =
    if (c.weightScale == 1.0) df
    else df.withColumn("weight",
      when(col("label") === 1, col("weight") * c.weightScale).otherwise(col("weight")))

  /** M5 — fit one candidate's assembler+GBT pipeline at `iters` boosting
    * rounds (`03:203-225`): the engine's one GBT fit, used directly for a
    * one-point grid and as every search's winner refit.
    * `GbtCandidate(d, 0.1, 1.0)` carries the GBT library defaults in every
    * dim but depth, so it is the plain `GBTClassifier` with maxDepth `d`.
    *
    * `coalesceTo`: boosted-tree training runs many short Spark jobs per
    * iteration; on a small training set spread over many partitions the
    * per-task overhead dominates. Callers that know the row count (e.g.
    * EntityResolution.train after its sampling pass) pass a partition
    * target sized to the data; None leaves partitioning untouched. */
  def fit(train: DataFrame, candidate: GbtCandidate, iters: Int, seed: Long = 42L,
          coalesceTo: Option[Int] = None): PipelineModel = obs.span("gbt_fit") {
    val prepared = coalesceTo.map(n => train.coalesce(n)).getOrElse(train)
    new Pipeline().setStages(Array(assembler, gbtFor(seed, candidate, iters)))
      .fit(scaleWeights(candidate, prepared))
  }

  /** Trial fit on a PRE-ASSEMBLED frame (optimization round 14, guide
    * §1.2 per-task work): the VectorAssembler is a deterministic row-wise
    * transformer identical across every candidate, so assembling once per
    * SEARCH and fitting only the GBT per TRIAL is bit-identical to
    * fitting the (assembler, GBT) pipeline per trial — the same rows in
    * the same order reach the GBT, and the same rawPrediction reaches the
    * evaluator — while the per-trial assembly pass (and its metadata
    * first() job) is paid once instead of ~33 times across the m4/m5
    * searches. Winner REFITS still go through [[fit]]: callers consume
    * the refit as a full PipelineModel. */
  private def fitTrialGbt(seed: Long, c: GbtCandidate, iters: Int,
                          assembled: DataFrame): GBTClassificationModel =
    gbtFor(seed, c, iters).fit(scaleWeights(c, assembled))

  /** 16-point default candidate grid: the 4×2×2 depth/shrinkage/
    * subsampling grid, with the three round-12 dimensions
    * (minInstancesPerNode, featureSubsetStrategy, weightScale) cycled
    * across the 16 points at staggered periods so every value of every
    * dim appears 8 times — a Latin-hypercube-style seeding that keeps
    * the candidate COUNT (and so every deterministic search schedule
    * and eval-count contract) unchanged while populating the TPE
    * densities' categorical domains and the weight-scale Parzen. The
    * cycle phases are chosen so the grid point (3, 0.1, 1.0) carries
    * ALL library-default new dims — that exact (candidate, budget)
    * keyspace is what m5's memoized grid search shares with the m4
    * searches. */
  def defaultHalvingCandidates: Seq[GbtCandidate] = {
    val base = for {
      d <- Seq(2, 3, 5, 7)
      s <- Seq(0.1, 0.3)
      ss <- Seq(0.7, 1.0)
    } yield (d, s, ss)
    base.zipWithIndex.map { case ((d, s, ss), i) =>
      GbtCandidate(d, s, ss,
        minInstancesPerNode = if ((i + 1) % 2 == 0) 1 else 5,
        featureSubsetStrategy = if (((i + 1) / 2) % 2 == 1) "all" else "sqrt",
        weightScale = if (((i + 1) / 4) % 2 == 1) 1.0 else 1.5,
        minInfoGain = if (((i + 3) / 8) % 2 == 1) 0.0 else 0.05)
    }
  }

  /** Outcome of a search ([[trainHalving]], [[trainTpe]],
    * [[trainGridMemo]]): the winner refit on the full
    * training input at the final budget, its held-out validation AUPR
    * (measured BEFORE the refit, on data the winner never trained on),
    * and the audit trail of the schedule. */
  case class HalvingResult(model: PipelineModel, candidate: GbtCandidate,
                           budget: Int, validationMetric: Double, evals: Int)

  /** Cross-search memo of fitted (candidate, budget) GBT pipelines and
    * their held-out metrics. [[trainHalving]] and [[trainTpe]] search the
    * SAME candidate space over the SAME training frame when a bench/verify
    * session runs both back-to-back — without sharing, every fit the two
    * searches have in common (TPE's fixed budget coincides with halving's
    * final rung, and both refit the winner on the full input) is paid
    * twice for bit-identical models.
    *
    * VALIDITY IS THE CALLER'S CONTRACT: a memo may only be shared between
    * searches whose training input, seed, and split proportions are
    * identical (MatchQueries keys its memo by (session, dir) over the one
    * memoized training frame). Fits are deterministic given (data, seed),
    * so a memo hit returns exactly the model a fresh fit would — winners
    * and metrics unchanged, which is what lets the m4 contracts stay
    * byte-identical with or without the memo.
    *
    * Thread-safe, and — critically — non-serializing: the map holds a
    * Promise per key, claimed with a CHEAP `putIfAbsent`, and the fit runs
    * OUTSIDE any map lock. `computeIfAbsent` would hold the key's hash-bin
    * lock for the whole multi-second fit, so two UNRELATED candidates
    * whose keys share a bin would fit one-after-the-other — with 16
    * thread-parallel trials over a 16-bin initial table that serialized
    * much of halving's first rung (measured: the memo's introduction COST
    * ~9 s on m4_halving_search before this was rewritten). Duplicate
    * requests for one key await the claimant's Promise; a FAILED fit is
    * evicted so it never poisons the memo for a retry. */
  final class FitMemo {
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration.Duration
    // trials memoize the held-out METRIC only: no caller reads a trial's
    // fitted pipeline back (searches destructure the metric and discard
    // the model), so pinning ~30 fitted GBTs per (session, dir) in a
    // session-scoped memo would be pure heap pressure. Winner refits keep
    // their models — those ARE read back.
    private val trials =
      new java.util.concurrent.ConcurrentHashMap[(GbtCandidate, Int), Promise[Double]]()
    private val refits =
      new java.util.concurrent.ConcurrentHashMap[(GbtCandidate, Int), Promise[PipelineModel]]()

    private def once[V](map: java.util.concurrent.ConcurrentHashMap[(GbtCandidate, Int), Promise[V]],
                        key: (GbtCandidate, Int))(compute: => V): V = {
      val fresh = Promise[V]()
      val prior = map.putIfAbsent(key, fresh)
      // observability counters (see [[FitMemo.globalHits]]): whichever of
      // the searches sharing a memo runs FIRST pays the shared fits, so
      // per-query wall clocks are not attributable without the hit/miss
      // split — Bench snapshots these around every query
      (if (prior == null) FitMemo.globalMisses else FitMemo.globalHits)
        .incrementAndGet()
      if (prior == null) {
        try fresh.success(compute)
        catch { case e: Throwable => map.remove(key, fresh); fresh.failure(e) }
      }
      // the claimant's Await returns immediately (its promise is complete);
      // only genuine duplicate requests block, on exactly their own key
      Await.result((if (prior == null) fresh else prior).future, Duration.Inf)
    }

    /** Held-out metric for a trial at `iters` budget; `compute` fits and
      * evaluates only on a memo miss. */
    def trial(c: GbtCandidate, iters: Int)(compute: => Double): Double =
      once(trials, (c, iters))(compute)

    /** Winner refit on the FULL training input at `iters` budget (a
      * distinct keyspace from [[trial]]: same candidate, more data). */
    def refit(c: GbtCandidate, iters: Int)(compute: => PipelineModel): PipelineModel =
      once(refits, (c, iters))(compute)

    private[graft] def trialCount: Int = trials.size

    private[graft] def trialKeys: Set[(GbtCandidate, Int)] = {
      val b = Set.newBuilder[(GbtCandidate, Int)]
      trials.keySet.forEach(k => b += k)
      b.result()
    }
  }

  /** Process-wide [[FitMemo]] request accounting (trials + refits across
    * every instance): a MISS is a claimed fit (the requester computes),
    * a HIT an awaited duplicate (the cost landed on someone else's
    * clock). Exists because the training trio shares one memo per
    * (session, dir), so whichever query runs first pays the shared fits
    * — a per-query wall swing with zero code change (m5 4.5→15.5 s
    * round-over-round) is unexplainable from the bench artifact without
    * this split. Bench snapshots the counters around every query and
    * emits per-query `fit_memo_hits`/`fit_memo_misses` in
    * target/bench_per_query.json. */
  object FitMemo {
    val globalHits = new java.util.concurrent.atomic.AtomicLong
    val globalMisses = new java.util.concurrent.atomic.AtomicLong
  }

  /** The one search loop behind [[trainHalving]], [[trainTpe]] and
    * [[trainGridMemo]], run inside the search's `obs` span (`halving`,
    * `tpe`, `grid`). ONE place owns the prepared-frame cache, the
    * exact-proportion 0.8/0.2 stratified split, the trial thread pool,
    * the memo routing, and the teardown. The [[FitMemo]] validity
    * contract — identical input, seed, and split across every search
    * sharing a memo — holds BECAUSE the searches cannot drift apart here:
    * a split change is one edit, applied to all three or none. Both split
    * frames materialize up front (every fit scans them repeatedly, and the
    * stratified split's rank window must not re-evaluate per boosting
    * iteration).
    *
    * The body gets two functions: `trials(points)` scores every
    * (candidate, budget) point concurrently on the pool — each one fitted
    * on the 80% split and scored by held-out AUPR on the 20% — and
    * `refit(c, iters)` fits the winner on the FULL input through [[fit]].
    * Both go through the caller's memo, or a private one when the caller
    * shares none. */
  private def withSearchContext[A](span: String, train: DataFrame, seed: Long,
      parallelism: Int, coalesceTo: Option[Int], memo: Option[FitMemo])(
      body: (Seq[(GbtCandidate, Int)] => Seq[Double],
             (GbtCandidate, Int) => PipelineModel) => A): A = obs.span(span)(graft.Sweep.pinned { pin =>
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val prepared = pin(coalesceTo.map(n => train.coalesce(n)).getOrElse(train).cache())
    val Seq(tr0, va0) = stratifiedSplit(prepared, Seq(0.8, 0.2), seed = seed)
    // the split frames are cached PRE-ASSEMBLED (see [[fitTrialGbt]]):
    // every trial fit and every held-out evaluation reads the assembled
    // features, so the assembly projection runs once per search, not once
    // per trial. Row content/order reaching each GBT fit is unchanged
    // (the assembler is a narrow deterministic projection over the cached
    // split), so fitted models and metrics are bit-identical.
    //
    // The trial frames are additionally COALESCED to the caller's
    // `coalesceTo` (optimization round 15, guide §2.6/§5 tiny-job
    // scheduling): the stratified split's rank window leaves tr/va at
    // spark.sql.shuffle.partitions (32 on the bench — 30 of them EMPTY for
    // a 2-label corpus), so every one of the ~1300 tiny MLlib jobs the
    // trio's ~35 boosted-tree fits run scheduled 32 tasks for a
    // few-hundred-row frame — pure DAGScheduler overhead (measured: the
    // trio's wall is ~2.5× its task time). Coalescing AFTER the split
    // leaves split membership untouched (the seeded draw happens on the
    // pre-shuffle side) and gives trials the SAME partition count the
    // winner refit already fits at (`prepared` is coalesced to the same
    // value). NOTE this changes which partition index a trial fit's
    // rows sit in, so subsample draws (subsamplingRate < 1) and stats
    // accumulation order change ONCE relative to round 14 — trial metrics
    // and winners may differ; every consumer contract is
    // partition-schedule-invariant (fixed eval/budget counts, AUPR bound
    // booleans) and MatcherSpec pins the new values.
    val Seq(tr, va) = Seq(tr0, va0).map { df =>
      val assembled = assembler.transform(df)
      pin(coalesceTo.map(n => assembled.coalesce(n)).getOrElse(assembled).cache())
    }
    val m = memo.getOrElse(new FitMemo)
    def trial(c: GbtCandidate, iters: Int): Double =
      m.trial(c, iters)(heldOutAupr(fitTrialGbt(seed, c, iters, tr).transform(va)))
    def refit(c: GbtCandidate, iters: Int): PipelineModel =
      m.refit(c, iters)(fit(prepared, c, iters, seed))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def trials(points: Seq[(GbtCandidate, Int)]): Seq[Double] = Await.result(
      Future.sequence(points.map { case (c, iters) => Future(trial(c, iters)) }),
      Duration.Inf)
    try body(trials, refit) finally pool.shutdown()
  })

  /** M4 variant — successive halving (Hyperband's inner loop; Jamieson &
    * Talwalkar, AISTATS 2016) over the GBT space: the adaptive-budget
    * answer to the reference's 1000-eval hyperopt TPE (`03_Train & Deploy
    * Model.py:164-192,245-253`). All candidates get a SMALL budget
    * (`minIter` boosting rounds); each rung keeps the top `1/eta` by
    * held-out AUPR and multiplies the budget by `eta`, so weak configs die
    * after a cheap probe and the full budget is spent only on survivors.
    * Total boosting rounds ≈ n·minIter·(1 + 1/eta·…) — a geometric series,
    * vs n·maxIter for the full grid at full budget; here 16 candidates are
    * searched for ~26% of the rounds a 16-cell grid at `maxIter` would
    * burn, and unlike TPE's sequential chain every rung is
    * thread-parallel (`parallelism` concurrent Spark fits).
    *
    * Deterministic: fixed split, fixed seeds, stable sort with a
    * candidate-order tie-break. The train/validation split is the same
    * exact-proportion [[stratifiedSplit]] the rest of the engine uses. */
  def trainHalving(train: DataFrame, seed: Long = 42L, parallelism: Int = 4,
                   candidates: Seq[GbtCandidate] = defaultHalvingCandidates,
                   minIter: Int = 5, maxIter: Int = 45, eta: Int = 3,
                   coalesceTo: Option[Int] = None,
                   memo: Option[FitMemo] = None): HalvingResult = {
    require(candidates.nonEmpty && eta >= 2 && minIter >= 1 && maxIter >= minIter)
    withSearchContext("halving", train, seed, parallelism, coalesceTo, memo) { (trials, refit) =>
      var alive = candidates.toIndexedSeq
      var budget = minIter
      var evals = 0
      var lastScores: Seq[(GbtCandidate, Double)] = Nil
      while (alive.size > 1) {
        val scored = alive.zip(trials(alive.map((_, budget))))
        evals += alive.size
        // stable sort: ties resolve to the earlier candidate, so the
        // schedule is reproducible across runs and thread interleavings
        val ranked = scored.sortBy { case (_, m) => -m }
        val keep = math.max(1, (alive.size + eta - 1) / eta)
        alive = ranked.take(keep).map(_._1)
        lastScores = ranked.take(keep)
        if (alive.size > 1) budget = math.min(maxIter, budget * eta)
      }
      if (lastScores.isEmpty) { // degenerate 1-candidate "search"
        budget = maxIter
        lastScores = Seq(alive.head -> trials(Seq((alive.head, budget))).head)
        evals += 1
      }
      val (winner, winnerMetric) = lastScores.head
      // refit the selected config on ALL the training input (train +
      // validation) at the final budget
      HalvingResult(refit(winner, budget), winner, budget, winnerMetric, evals)
    }
  }

  /** M4 variant — batch TPE (Bergstra et al., NeurIPS 2011 — the
    * algorithm the reference's hyperopt search actually runs,
    * `03_Train & Deploy Model.py:164-192,245-253`), adapted to
    * batch-parallel evaluation over a CONTINUOUS space. Each round
    * CONDITIONS on every completed trial: trials split into the top-γ
    * "good" set and the rest, per-dimension densities l and g are fitted
    * to each — add-one-smoothed categorical counts for `maxDepth`,
    * `minInstancesPerNode`, and `featureSubsetStrategy`, 1-D Parzen
    * (Gaussian-kernel mixture + uniform prior, adaptive bandwidth)
    * estimators for the continuous `stepSize`, `subsamplingRate`, and
    * `weightScale` dims, the reference search's actual space shape
    * (`hp.uniform`/`hp.quniform`/`hp.choice`, `03:173-178` — six of its
    * nine dims have direct GBT analogues here; iterations ride the
    * budget axis) — and the next `batch` configs are
    * picked by the density ratio Π l(v)/g(v), the expected-improvement
    * surrogate. In place of TPE's random draws from l, candidates come
    * from a DETERMINISTIC quantile-sliced pool (observed good values,
    * midpoints between adjacent good values — genuinely off-grid — plus
    * range endpoints and the seeding grid), so the search refines into
    * promising continuous regions while staying bit-reproducible.
    * Unlike [[trainHalving]]'s pre-committed budget schedule, the
    * candidate CHOICE here adapts trial-by-trial (the TPE-class
    * sequential adaptivity), while each batch still fits
    * thread-parallel like every other search here. Trials run at one
    * FIXED budget `iters`: TPE explores the config space, not the
    * budget axis — that is halving's job.
    *
    * Deterministic: seeded hash init order, stable (ratio desc, config
    * order) proposal selection, stable (metric desc, trial order)
    * winner ranking; same exact-proportion [[stratifiedSplit]]. */
  def trainTpe(train: DataFrame, seed: Long = 42L, parallelism: Int = 4,
               candidates: Seq[GbtCandidate] = defaultHalvingCandidates,
               nTrials: Int = 10, nInit: Int = 4, batch: Int = 3,
               gamma: Double = 0.25, iters: Int = 8,
               coalesceTo: Option[Int] = None,
               memo: Option[FitMemo] = None,
               stepSizeRange: (Double, Double) = (0.05, 0.5),
               subsampleRange: (Double, Double) = (0.5, 1.0),
               weightScaleRange: (Double, Double) = (0.5, 2.0),
               minInfoGainRange: (Double, Double) = (0.0, 0.2)): HalvingResult = {
    require(candidates.nonEmpty && nTrials >= nInit && nInit >= 1 && batch >= 1)
    require(gamma > 0.0 && gamma < 1.0 && iters >= 1)
    require(candidates.distinct.size == candidates.size,
      "TPE candidate grid must not contain duplicate configs")
    require(stepSizeRange._1 > 0.0 && stepSizeRange._1 <= stepSizeRange._2)
    require(subsampleRange._1 > 0.0 && subsampleRange._1 <= subsampleRange._2 &&
      subsampleRange._2 <= 1.0)
    require(weightScaleRange._1 > 0.0 && weightScaleRange._1 <= weightScaleRange._2)
    require(minInfoGainRange._1 >= 0.0 && minInfoGainRange._1 <= minInfoGainRange._2)
    withSearchContext("tpe", train, seed, parallelism, coalesceTo, memo) { (trials, refit) =>
      val grid = candidates.toIndexedSeq
      // the grid seeds exploration (init trials come from it), but the
      // SEARCH SPACE is continuous in stepSize/subsamplingRate — cap is
      // the trial budget alone, never the grid size
      val cap = nTrials
      // seeded deterministic exploration order for the init trials
      val initOrder = grid.indices
        .sortBy(i => (scala.util.hashing.MurmurHash3.productHash((seed, i)), i))
      val history = scala.collection.mutable.ArrayBuffer[(GbtCandidate, Double)]()
      def evalBatch(cs: Seq[GbtCandidate]): Unit =
        history ++= cs.zip(trials(cs.map((_, iters))))
      evalBatch(initOrder.take(math.min(nInit, cap)).map(grid))
      // ---- density machinery ----------------------------------------
      // categorical dims (maxDepth, minInstancesPerNode,
      // featureSubsetStrategy): add-one-smoothed counts, as in the
      // discrete TPE. continuous dims (stepSize, subsamplingRate,
      // weightScale): a Parzen estimator — mixture of Gaussian kernels
      // centered at the observed values with the adaptive bandwidth
      // (hi-lo)/√(1+n), plus one uniform prior component over the range
      // (Bergstra et al. 2011 §4's 1-D Parzen shape). All driver-side
      // arithmetic over a few dozen trial rows; no randomness anywhere —
      // the candidate "draws" are a deterministic quantile-sliced pool
      // (below).
      def catDens[T](vs: Seq[T], dom: Seq[T]): T => Double = {
        val counts = vs.groupBy(identity).view.mapValues(_.size.toDouble).toMap
        v => (counts.getOrElse(v, 0.0) + 1.0) / (vs.size + dom.size)
      }
      def parzenDens(vs: Seq[Double], lo: Double, hi: Double): Double => Double = {
        val width = math.max(hi - lo, 1e-12)
        val h = width / math.sqrt(1.0 + vs.size)
        val uniform = 1.0 / width
        x => {
          val kernels = vs.map { c =>
            val z = (x - c) / h
            math.exp(-0.5 * z * z) / (h * math.sqrt(2.0 * math.Pi))
          }.sum
          (uniform + kernels) / (1.0 + vs.size)
        }
      }
      // deterministic continuous candidate pool in place of TPE's random
      // draws from l: the observed good values, the midpoints between
      // adjacent distinct good values (the quantile-sliced OFF-GRID
      // points the density ratio can actually prefer), the range
      // endpoints/midpoint, and the grid's own values — every entry a
      // function of sorted trial history, so proposals are reproducible
      def contPool(good: Seq[Double], gridVals: Seq[Double],
                   lo: Double, hi: Double): Seq[Double] = {
        val gs = good.distinct.sorted
        val mids = gs.zip(gs.drop(1)).map { case (a, b) => (a + b) / 2.0 }
        (gs ++ mids ++ gridVals ++ Seq(lo, hi, (lo + hi) / 2.0))
          .map(v => math.min(hi, math.max(lo, v)))
          .map(v => math.rint(v * 1e6) / 1e6) // canonical 1e-6 precision
          .distinct.sorted
      }
      while (history.size < cap) {
        val done = history.toIndexedSeq
        val ranked = done.zipWithIndex
          .sortBy { case ((_, m), i) => (-m, i) }.map(_._1)
        val nGood = math.max(1, math.ceil(gamma * done.size).toInt)
        val good = ranked.take(nGood).map(_._1)
        val rest = ranked.drop(nGood).map(_._1)
        val depthDom = grid.map(_.maxDepth).distinct
        val lDepth = catDens(good.map(_.maxDepth), depthDom)
        val gDepth = catDens(rest.map(_.maxDepth), depthDom)
        val minInstDom = grid.map(_.minInstancesPerNode).distinct
        val lMinInst = catDens(good.map(_.minInstancesPerNode), minInstDom)
        val gMinInst = catDens(rest.map(_.minInstancesPerNode), minInstDom)
        val fssDom = grid.map(_.featureSubsetStrategy).distinct
        val lFss = catDens(good.map(_.featureSubsetStrategy), fssDom)
        val gFss = catDens(rest.map(_.featureSubsetStrategy), fssDom)
        val (sLo, sHi) = stepSizeRange
        val (ssLo, ssHi) = subsampleRange
        val (wLo, wHi) = weightScaleRange
        val (gLo, gHi) = minInfoGainRange
        val lStep = parzenDens(good.map(_.stepSize), sLo, sHi)
        val gStep = parzenDens(rest.map(_.stepSize), sLo, sHi)
        val lSub = parzenDens(good.map(_.subsamplingRate), ssLo, ssHi)
        val gSub = parzenDens(rest.map(_.subsamplingRate), ssLo, ssHi)
        val lW = parzenDens(good.map(_.weightScale), wLo, wHi)
        val gW = parzenDens(rest.map(_.weightScale), wLo, wHi)
        val lGain = parzenDens(good.map(_.minInfoGain), gLo, gHi)
        val gGain = parzenDens(rest.map(_.minInfoGain), gLo, gHi)
        val stepPool = contPool(good.map(_.stepSize), grid.map(_.stepSize), sLo, sHi)
        val subPool = contPool(good.map(_.subsamplingRate),
          grid.map(_.subsamplingRate), ssLo, ssHi)
        val wPool = contPool(good.map(_.weightScale),
          grid.map(_.weightScale), wLo, wHi)
        val gainPool = contPool(good.map(_.minInfoGain),
          grid.map(_.minInfoGain), gLo, gHi)
        val seen = history.map(_._1).toSet
        // per-VALUE density ratios memoized before the cartesian: each
        // pool has ~a dozen values, so the l/g ratio is evaluated
        // O(Σ|pool_i|) times (~70 Parzen sums) instead of once per
        // PROPOSAL × dim (the cartesian is |proposals| ≈ 10^5 with seven
        // dims and grows multiplicatively with every added dim — ranking
        // must stay O(|proposals|) cheap multiplies, or the driver-side
        // proposal step would come to dominate the search)
        def ratios[T](pool: Seq[T], l: T => Double, g: T => Double): Map[T, Double] =
          pool.map(v => v -> l(v) / g(v)).toMap
        val rDepth = ratios(depthDom, lDepth, gDepth)
        val rMinInst = ratios(minInstDom, lMinInst, gMinInst)
        val rFss = ratios(fssDom, lFss, gFss)
        val rStep = ratios(stepPool, lStep, gStep)
        val rSub = ratios(subPool, lSub, gSub)
        val rW = ratios(wPool, lW, gW)
        val rGain = ratios(gainPool, lGain, gGain)
        val proposals = for {
          d <- depthDom
          mi <- minInstDom
          fs <- fssDom
          s <- stepPool
          ss <- subPool
          w <- wPool
          g <- gainPool
          c = GbtCandidate(d, s, ss, mi, fs, w, g)
          if !seen(c)
        } yield (c,
          rDepth(d) * rMinInst(mi) * rFss(fs) * rStep(s) * rSub(ss) *
            rW(w) * rGain(g))
        val next = proposals
          .sortBy { case (c, ratio) => (-ratio,
            c.maxDepth, c.stepSize, c.subsamplingRate,
            c.minInstancesPerNode, c.featureSubsetStrategy, c.weightScale,
            c.minInfoGain) }
          .map(_._1)
          .take(math.min(batch, cap - history.size))
        // the continuous pool always holds unseen points (midpoints
        // refine between any two seen values); this guards the
        // degenerate all-seen corner so the loop can never spin
        if (next.isEmpty)
          throw new IllegalStateException(
            s"TPE proposal drained: ${history.size} trials < cap $cap")
        evalBatch(next)
      }
      val (winner, winnerMetric) = history.zipWithIndex
        .sortBy { case ((_, m), i) => (-m, i) }.head._1
      // same refit-on-everything convention as trainHalving
      HalvingResult(refit(winner, iters), winner, iters, winnerMetric, history.size)
    }
  }

  /** M4/M5 shared surface — memoized grid search over EXPLICIT
    * (candidate, budget) points through the SAME exact-proportion
    * stratified split and [[FitMemo]] keyspace as
    * [[trainHalving]]/[[trainTpe]]: fit each point on the 80% stratum,
    * evaluate held-out AUPR on the 20%, pick the winner by
    * (metric desc, point order), refit it on the FULL input at its
    * budget. This is the engine's plain grid search (EntityResolution.train
    * runs its maxIter × maxDepth grid through it), and routing m5's
    * {5,10}-iteration grid through here puts all three
    * training queries in ONE candidate space and split, so any
    * (candidate, budget) fit that coincides across the searches is paid
    * once, bit-identically (the FitMemo validity contract: same input,
    * seed, split — which is also why the caller must pass the SAME
    * `coalesceTo` as the sibling searches; the stratified split's
    * per-row draw is partitioning-dependent). */
  def trainGridMemo(train: DataFrame, points: Seq[(GbtCandidate, Int)],
                    seed: Long = 42L, parallelism: Int = 4,
                    coalesceTo: Option[Int] = None,
                    memo: Option[FitMemo] = None): HalvingResult = {
    require(points.nonEmpty && points.distinct.size == points.size,
      "grid points must be non-empty and distinct")
    withSearchContext("grid", train, seed, parallelism, coalesceTo, memo) { (trials, refit) =>
      // stable winner: ties resolve to the earlier point, like every
      // other search here
      val ((winner, budget), metric) = points.zip(trials(points)).zipWithIndex
        .sortBy { case ((_, m), i) => (-m, i) }.head._1
      HalvingResult(refit(winner, budget), winner, budget, metric, points.size)
    }
  }

  /** M6 — area under the precision-recall curve (`03:218,311-314`). */
  def evaluator: BinaryClassificationEvaluator =
    new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderPR")

  /** Held-out areaUnderPR of a scored frame, computed DRIVER-SIDE when
    * the curve is small — bit-identical to
    * `BinaryClassificationEvaluator("areaUnderPR")` (no weight column)
    * and falling back to it otherwise (optimization round 14, guide §1.2
    * per-task work): the distributed evaluator costs ~4 tiny shuffle jobs
    * (combineByKey, sortByKey sample + sort, curve/area aggregates) PER
    * TRIAL on a few-hundred-row validation split — ~35 trials per bench
    * session across the m4/m5 searches — where the curve itself is a few
    * hundred points.
    *
    * Exactness argument, step for step against
    * `mllib.evaluation.BinaryClassificationMetrics(scoreAndLabels,
    * numBins = 1000)`:
    *   - score = rawPrediction(1), label cast to double — the evaluator's
    *     own projection;
    *   - per-score class counts are sums of 1.0 weights — exact integers
    *     in double regardless of addition order;
    *   - cumulative counts accumulate in score-DESCENDING order (ties
    *     grouped), precision = tp/(tp+fp), recall = tp/totPos — the same
    *     divisions on the same exact operands;
    *   - the PR curve prepends (0, precision of the highest threshold)
    *     and the area is the left-to-right trapezoid fold
    *     ((x2−x1)·(y2+y1)/2 added in curve order) — AreaUnderCurve.of's
    *     exact operation sequence.
    * MLlib DOWNSAMPLES the curve when distinct scores exceed numBins
    * (1000); this path refuses that regime (and anything over the collect
    * bound) and delegates to the distributed evaluator, so the value is
    * equal in every case — up to the DISTRIBUTED evaluator's own
    * partition-order FP nondeterminism (ADVICE r14): its trapezoid sum
    * accumulates via RDD.aggregate in task-completion order, so on a
    * multi-partition curve the evaluator itself can differ from any fixed
    * fold order by ulps between runs; this local path is a deterministic
    * left fold, equal to the evaluator's single-partition order. Pinned
    * by MatcherSpec against the evaluator on real trial frames, including
    * a multi-partition case. */
  private[graft] def aucPrLocal(scoreAndLabels: Array[(Double, Double)]): Double = {
    // distinct scores descending, with per-score (pos, neg) weight sums
    val byScore = new java.util.TreeMap[java.lang.Double, Array[Double]](
      java.util.Comparator.reverseOrder[java.lang.Double]())
    scoreAndLabels.foreach { case (s, l) =>
      val c = byScore.computeIfAbsent(s, _ => new Array[Double](2))
      if (l > 0.5) c(0) += 1.0 else c(1) += 1.0
    }
    var tp = 0.0
    var fp = 0.0
    val totPos = {
      var t = 0.0
      byScore.values.forEach(c => t += c(0))
      t
    }
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    byScore.values.forEach { c =>
      tp += c(0); fp += c(1)
      pts += ((tp / totPos, tp / (tp + fp)))
    }
    val curve = (0.0, pts.head._2) +: pts
    curve.iterator.sliding(2).withPartial(false).foldLeft(0.0) { (auc, w) =>
      auc + (w(1)._1 - w(0)._1) * (w(1)._2 + w(0)._2) / 2.0
    }
  }

  /** Collect bound for [[heldOutAupr]]'s driver path: past it (or past
    * MLlib's 1000-distinct-score binning threshold) the distributed
    * evaluator runs instead. */
  private val AuprCollectCap = 100000

  private[graft] def heldOutAupr(scored: DataFrame): Double = {
    val rows = scored
      .select(element_at(vector_to_array(col("rawPrediction")), 2).as("s"),
        col("label").cast("double").as("l"))
      .take(AuprCollectCap + 1)
    if (rows.length > AuprCollectCap)
      evaluator.evaluate(scored)
    else {
      val sl = rows.map(r => (r.getDouble(0), r.getDouble(1)))
      // delegate every edge regime to MLlib so its exact semantics apply:
      // curve binning (> numBins distinct scores), empty input, and the
      // no-positives corner (where its Recall guard, not a NaN division,
      // defines the value)
      if (sl.isEmpty || sl.iterator.map(_._1).toSet.size > 1000 ||
          !sl.exists(_._2 > 0.5))
        evaluator.evaluate(scored)
      else aucPrLocal(sl)
    }
  }

  def areaUnderPR(model: PipelineModel, test: DataFrame): Double =
    evaluator.evaluate(model.transform(test))

  /** X2 — score pairs with the fitted model: P(match) from the probability
    * vector, no UDF boundary (`03:434-446` replacement). */
  def score(model: PipelineModel, pairs: DataFrame,
             scoreCol: String = "match_score"): DataFrame =
    model.transform(pairs)
      .withColumn(scoreCol, vector_to_array(col("probability")).getItem(1))
      .drop("features", "rawPrediction", "probability", "prediction")

  /** O1 — final ranked match output (`03:579`). */
  def ranked(scored: DataFrame, scoreCol: String = "match_score"): DataFrame =
    scored.orderBy(col(scoreCol).desc)
}
