package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._
import graft.matching.{Distances, Matcher, ModelStore}

/** X1/M2-M7/X2 — distances, classifier training, registry. */
class MatcherSpec extends SparkSpec {
  import spark.implicits._

  // Separable synthetic distance features: matches near 0, non-matches far.
  private def syntheticPairs(n: Int) = {
    val rnd = new scala.util.Random(42)
    val rows = (1 to n).map { i =>
      val label = i % 2
      val base = if (label == 1) 0.05 else 1.5
      (i, i + 1000, base + rnd.nextDouble() * 0.1,
        base + rnd.nextDouble() * 0.1, base + rnd.nextDouble() * 0.05, label)
    }
    rows.toDF("idA", "idB", "name_sqdist", "descript_sqdist", "price_sqdist", "label")
  }

  test("sqdist kernel: zero on self, symmetric, hand-computed value") {
    import org.apache.spark.ml.linalg.Vectors
    val v1 = Vectors.dense(1.0, 2.0)
    val v2 = Vectors.dense(4.0, 6.0)
    val df = Seq((v1, v2)).toDF("a", "b")
    val Array(d1, d2, self) = df.select(
      Distances.sqdist($"a", $"b"), Distances.sqdist($"b", $"a"),
      Distances.sqdist($"a", $"a")).as[(Double, Double, Double)]
      .head() match { case (x, y, z) => Array(x, y, z) }
    assert(d1 == 25.0 && d2 == 25.0 && self == 0.0) // 3²+4²
  }

  test("driver-side areaUnderPR is bit-identical to the distributed " +
      "evaluator on real trial frames") {
    // the exact regime the m4/m5 trials run in: GBT scores over a small
    // weighted validation split — the local path must reproduce MLlib's
    // value EXACTLY (it selects winners), not to a tolerance
    val weighted = Matcher.addClassWeights(syntheticPairs(600)).coalesce(1)
    val Seq(tr, va) = Matcher.stratifiedSplit(weighted, Seq(0.8, 0.2))
    import org.apache.spark.ml.feature.VectorAssembler
    val asm = new VectorAssembler().setInputCols(Matcher.FeatureCols)
      .setOutputCol("features").setHandleInvalid("keep")
    for (iters <- Seq(2, 8)) {
      val gbt = new org.apache.spark.ml.classification.GBTClassifier()
        .setLabelCol("label").setWeightCol("weight").setFeaturesCol("features")
        .setSeed(42L).setMaxIter(iters).setMaxDepth(3)
      val scored = gbt.fit(asm.transform(tr)).transform(asm.transform(va))
      val local = Matcher.heldOutAupr(scored)
      val dist = Matcher.evaluator.evaluate(scored)
      assert(local == dist, s"iters=$iters: local $local != evaluator $dist")
    }
    // ties + duplicate scores: constant-feature frame collapses many rows
    // onto few distinct scores
    val const = weighted.withColumn("name_sqdist", lit(0.5))
      .withColumn("descript_sqdist", lit(0.5)).withColumn("price_sqdist", lit(0.5))
    val gbt1 = new org.apache.spark.ml.classification.GBTClassifier()
      .setLabelCol("label").setWeightCol("weight").setFeaturesCol("features")
      .setSeed(42L).setMaxIter(2).setMaxDepth(2)
    val scoredTies = gbt1.fit(asm.transform(const)).transform(asm.transform(const))
    assert(Matcher.heldOutAupr(scoredTies) ==
      Matcher.evaluator.evaluate(scoredTies))
    // MULTI-partition scored frame (ADVICE r14): the local path's collect
    // is partition-order-stable and the curve arithmetic is exact-integer
    // cumulative counts, so equality must hold across a repartition too
    // (the distributed evaluator's own trapezoid sum is task-order
    // nondeterministic only past one partition per distinct-score run —
    // this pins the regime the trials actually use)
    val gbtMp = new org.apache.spark.ml.classification.GBTClassifier()
      .setLabelCol("label").setWeightCol("weight").setFeaturesCol("features")
      .setSeed(42L).setMaxIter(4).setMaxDepth(3)
    val scoredMp = gbtMp.fit(asm.transform(tr))
      .transform(asm.transform(va).repartition(5))
    assert(Matcher.heldOutAupr(scoredMp) ==
      Matcher.evaluator.evaluate(scoredMp))
  }

  test("stratified split: per-class ratios approximately preserved") {
    val df = syntheticPairs(2000)
    val splits = Matcher.stratifiedSplit(df, Seq(0.7, 0.15, 0.15))
    assert(splits.map(_.count()).sum == 2000)
    val frac1 = splits.map(s =>
      s.where($"label" === 1).count().toDouble / s.count())
    frac1.foreach(f => assert(math.abs(f - 0.5) < 0.1,
      s"stratification lost: $frac1"))
  }

  test("class weights: balanced — sum of weights equal per class") {
    val df = syntheticPairs(300).where($"label" === 1)
      .union(syntheticPairs(300).where($"label" === 0).limit(50))
    val w = Matcher.addClassWeights(df)
    val sums = w.groupBy("label").agg(sum("weight").as("s"))
      .as[(Int, Double)].collect().toMap
    assert(math.abs(sums(0) - sums(1)) < 1e-6)
  }

  test("GBT train + areaUnderPR on separable data; native-transform scoring") {
    val df = Matcher.addClassWeights(syntheticPairs(400))
    val Seq(train, test) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val model = Matcher.fit(train, Matcher.GbtCandidate(3, 0.1, 1.0), 5)
    val aupr = Matcher.areaUnderPR(model, test)
    assert(aupr > 0.95, s"separable data should be near-perfect, got $aupr")
    val scored = Matcher.score(model, test)
    val scores = scored.select("match_score").as[Double].collect()
    assert(scores.forall(sc => sc >= 0.0 && sc <= 1.0))
    // ranked output descends
    val ranked = Matcher.ranked(scored).select("match_score").as[Double].collect()
    assert(ranked.sameElements(ranked.sortBy(-_)))
  }

  test("Matcher.fit of GbtCandidate(d, 0.1, 1.0) is the plain GBT pipeline " +
       "fit: identical trees and probabilities") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
    import org.apache.spark.ml.feature.VectorAssembler
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val model = Matcher.fit(df, Matcher.GbtCandidate(3, 0.1, 1.0), 10)
    // the GBT a caller writes by hand: only maxIter and maxDepth set
    val plain = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Matcher.FeatureCols)
        .setOutputCol("features").setHandleInvalid("keep"),
      new GBTClassifier().setLabelCol("label").setWeightCol("weight")
        .setFeaturesCol("features").setSeed(42).setMaxIter(10).setMaxDepth(3)))
      .fit(df)
    // every tree with its weight; the header line carries the stage uid
    def trees(m: PipelineModel) =
      m.stages.last.asInstanceOf[GBTClassificationModel].toDebugString
        .linesIterator.drop(1).toSeq
    assert(trees(model) == trees(plain))
    def probs(m: PipelineModel) = Matcher.score(m, df)
      .select("idA", "match_score").as[(Int, Double)].collect().toMap
    val (a, b) = (probs(model), probs(plain))
    assert(a.size == 400 && a == b, "probabilities differ row by row")
  }

  test("successive halving: deterministic schedule, searched model stays " +
       "near-perfect on separable data") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, test) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val r = Matcher.trainHalving(train, parallelism = 4,
      minIter = 2, maxIter = 18, eta = 3)
    // 16 candidates, eta 3 → rungs of 16 + 6 + 2 = 24 evals, final budget
    // 2·3·3 = 18 — the schedule is pure arithmetic, independent of data
    assert(r.evals == 24, s"schedule drifted: ${r.evals} evals")
    assert(r.budget == 18, s"final budget drifted: ${r.budget}")
    assert(r.validationMetric >= 0.0 && r.validationMetric <= 1.0)
    // the winner comes from the declared candidate set
    assert(Matcher.defaultHalvingCandidates.contains(r.candidate))
    val aupr = Matcher.areaUnderPR(r.model, test)
    assert(aupr > 0.95, s"separable data should stay near-perfect: $aupr")
  }

  test("batch TPE: exact trial count, fixed budget, deterministic winner, " +
       "searched model stays near-perfect on separable data") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, test) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val r = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 10, nInit = 4, batch = 3, iters = 8)
    // 4 init + two adaptive batches of 3 = exactly 10 trials, all at the
    // fixed 8-round budget (TPE adapts the CHOICE, not the budget)
    assert(r.evals == 10, s"trial count drifted: ${r.evals}")
    assert(r.budget == 8)
    assert(r.validationMetric >= 0.0 && r.validationMetric <= 1.0)
    // the winner lives in the declared CONTINUOUS space: depth from the
    // grid's categorical domain, the continuous dims inside their ranges
    // (not necessarily on the seeding grid)
    assert(Matcher.defaultHalvingCandidates.map(_.maxDepth).contains(r.candidate.maxDepth))
    assert(r.candidate.stepSize >= 0.05 && r.candidate.stepSize <= 0.5)
    assert(r.candidate.subsamplingRate >= 0.5 && r.candidate.subsamplingRate <= 1.0)
    // determinism: the density-ratio proposals and tie-breaks are seeded
    // and stable, so a rerun selects the identical winner and metric
    val r2 = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 10, nInit = 4, batch = 3, iters = 8)
    assert(r2.candidate == r.candidate && r2.validationMetric == r.validationMetric)
    val aupr = Matcher.areaUnderPR(r.model, test)
    assert(aupr > 0.95, s"separable data should stay near-perfect: $aupr")
  }

  test("batch TPE: continuous dims — the adaptive proposals reach " +
       "off-grid configs between observed good values") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, _) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    // run past the init phase so density-ratio proposal rounds happen;
    // 4 init (grid points) + 8 adaptive proposals
    val memo = new Matcher.FitMemo
    val r = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 12, nInit = 4, batch = 4, iters = 4, memo = Some(memo))
    // the memo records every DISTINCT fitted trial — recover the
    // proposal set from it via a second identical run (all 12 hits)
    val r2 = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 12, nInit = 4, batch = 4, iters = 4, memo = Some(memo))
    assert(memo.trialCount == 12,
      s"rerun with shared memo must refit nothing: ${memo.trialCount} distinct fits")
    assert(r2.candidate == r.candidate && r2.validationMetric == r.validationMetric)
    // at least one adaptive proposal must be OFF-GRID in a continuous
    // dim — the quantile-sliced pool midpoints guarantee candidates
    // between adjacent grid values, and 8 proposals over a 4-point
    // stepSize×subsample grid region cannot all be grid points
    val gridSteps = Matcher.defaultHalvingCandidates.map(_.stepSize).distinct.toSet
    val gridSubs = Matcher.defaultHalvingCandidates.map(_.subsamplingRate).distinct.toSet
    val offGrid = memo.trialKeys.map(_._1).exists(c =>
      !gridSteps.contains(c.stepSize) || !gridSubs.contains(c.subsamplingRate))
    assert(offGrid, "no off-grid config was ever proposed — search is still grid-restricted")
  }

  test("fit memo shared across halving and TPE: results identical to " +
       "unshared searches, coinciding fits paid once") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, _) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val plainH = Matcher.trainHalving(train, parallelism = 4,
      minIter = 2, maxIter = 8, eta = 4)
    val plainT = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 6, nInit = 4, batch = 2, iters = 8)
    val memo = new Matcher.FitMemo
    val h = Matcher.trainHalving(train, parallelism = 4,
      minIter = 2, maxIter = 8, eta = 4, memo = Some(memo))
    val t = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 6, nInit = 4, batch = 2, iters = 8, memo = Some(memo))
    // sharing must not change ANY observable result of either search
    assert(h.candidate == plainH.candidate && h.budget == plainH.budget &&
      h.evals == plainH.evals && h.validationMetric == plainH.validationMetric)
    assert(t.candidate == plainT.candidate && t.budget == plainT.budget &&
      t.evals == plainT.evals && t.validationMetric == plainT.validationMetric)
    // rerunning EITHER search against the shared memo must add zero
    // distinct fits (deterministic schedules + full reuse); the cross-
    // search overlap itself is opportunistic — whatever (candidate, 8)
    // fits coincide between halving's final rung and TPE's fixed budget
    // are paid once, which the rerun invariance is the proof mechanism for
    val fitsAfterBoth = memo.trialCount
    val h2 = Matcher.trainHalving(train, parallelism = 4,
      minIter = 2, maxIter = 8, eta = 4, memo = Some(memo))
    val t2 = Matcher.trainTpe(train, parallelism = 4,
      nTrials = 6, nInit = 4, batch = 2, iters = 8, memo = Some(memo))
    assert(memo.trialCount == fitsAfterBoth,
      s"rerun refit something: ${memo.trialCount} != $fitsAfterBoth")
    assert(h2.candidate == h.candidate && t2.candidate == t.candidate)
  }

  test("extended search space: TPE proposals reach off-grid weight scales " +
       "and the trial history covers both values of each new categorical dim") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, _) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val memo = new Matcher.FitMemo
    Matcher.trainTpe(train, parallelism = 4,
      nTrials = 16, nInit = 8, batch = 4, iters = 4, memo = Some(memo))
    val cands = memo.trialKeys.map(_._1)
    // categorical dims (≈ min_child_weight / colsample_bytree): the
    // staggered default grid seeds both values of each into the history,
    // so their add-one densities condition on real observations
    assert(cands.map(_.minInstancesPerNode) == Set(1, 5),
      s"minInstancesPerNode not fully explored: ${cands.map(_.minInstancesPerNode)}")
    assert(cands.map(_.featureSubsetStrategy) == Set("all", "sqrt"),
      s"featureSubsetStrategy not fully explored: ${cands.map(_.featureSubsetStrategy)}")
    // continuous dim (≈ scale_pos_weight): the quantile-sliced pool must
    // produce at least one genuinely OFF-GRID weight scale among the 8
    // adaptive proposals — the same guarantee the stepSize/subsample
    // dims already carry
    val gridW = Matcher.defaultHalvingCandidates.map(_.weightScale).toSet
    assert(cands.exists(c => !gridW.contains(c.weightScale)),
      s"no off-grid weightScale proposed: ${cands.map(_.weightScale)}")
    // every explored scale stays inside the declared range
    assert(cands.forall(c => c.weightScale >= 0.5 && c.weightScale <= 2.0))
    // minInfoGain (≈ gamma): both seeded values explored, range respected
    assert(cands.map(_.minInfoGain).size >= 2,
      s"minInfoGain not explored: ${cands.map(_.minInfoGain)}")
    assert(cands.forall(c => c.minInfoGain >= 0.0 && c.minInfoGain <= 0.2))
  }

  test("memoized grid search (m5 surface): winner deterministic, shared " +
       "memo reuses a coinciding halving fit, refit at the winner's budget") {
    val df = Matcher.addClassWeights(syntheticPairs(400)).coalesce(2)
    val Seq(train, _) = Matcher.stratifiedSplit(df, Seq(0.8, 0.2))
    val memo = new Matcher.FitMemo
    // halving first: its 16-candidate first rung at minIter=5 fits the
    // all-default (3, 0.1, 1.0) point at budget 5 — exactly the m5
    // grid's first trial key
    Matcher.trainHalving(train, parallelism = 4,
      minIter = 5, maxIter = 20, eta = 4, memo = Some(memo))
    val before = memo.trialCount
    val base = Matcher.GbtCandidate(3, 0.1, 1.0)
    val g = Matcher.trainGridMemo(train, Seq((base, 5), (base, 10)),
      parallelism = 2, memo = Some(memo))
    assert(memo.trialCount == before + 1,
      s"(base, 5) should memo-hit halving's first rung: $before -> ${memo.trialCount}")
    assert(g.evals == 2 && Seq(5, 10).contains(g.budget))
    assert(g.candidate == base)
    assert(g.validationMetric >= 0.0 && g.validationMetric <= 1.0)
    // memo-free rerun: identical winner, budget, and metric (the memo
    // never changes an observable result)
    val g2 = Matcher.trainGridMemo(train, Seq((base, 5), (base, 10)),
      parallelism = 2)
    assert(g2.candidate == g.candidate && g2.budget == g.budget &&
      g2.validationMetric == g.validationMetric)
  }

  test("successive halving: single-candidate degenerate search fits once " +
       "at full budget") {
    val df = Matcher.addClassWeights(syntheticPairs(200)).coalesce(2)
    val r = Matcher.trainHalving(df, parallelism = 2,
      candidates = Seq(Matcher.GbtCandidate(3, 0.1, 1.0)),
      minIter = 2, maxIter = 6, eta = 3)
    assert(r.evals == 1 && r.budget == 6)
    assert(r.candidate == Matcher.GbtCandidate(3, 0.1, 1.0))
  }

  test("successive halving leaves a caller-cached training frame cached " +
       "(coalesceTo = None releases only the search's own pins)") {
    val df = Matcher.addClassWeights(syntheticPairs(200)).coalesce(2).cache()
    df.count()
    try {
      Matcher.trainHalving(df, parallelism = 2,
        candidates = Seq(Matcher.GbtCandidate(3, 0.1, 1.0)),
        minIter = 2, maxIter = 6, eta = 3)
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the search released the caller's cache")
    } finally Sweep.release(df)
  }

  test("model store: versioning, production pointer, load round-trip") {
    val root = "/root/repo/target/test_tmp/registry"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/m"))
    val df = Matcher.addClassWeights(syntheticPairs(200))
    val model = Matcher.fit(df, Matcher.GbtCandidate(2, 0.1, 1.0), 3)
    val v1 = ModelStore.save(model, root, "m")
    val v2 = ModelStore.save(model, root, "m")
    assert(v2 == v1 + 1)
    // re-register an existing artifact as a new version without the
    // MLWriter round-trip; it must load and score identically
    val v3 = ModelStore.copyVersion(root, "m", v2)
    assert(v3 == v2 + 1)
    // stage lifecycle: fresh saves are None; promote moves the version to
    // Production; a SECOND promote archives the previous Production
    // explicitly (MLflow archive_existing_versions semantics) and leaves
    // untouched versions alone
    assert(ModelStore.stage(root, "m", v1) == "None")
    ModelStore.setProduction(root, "m", v2)
    assert(ModelStore.stage(root, "m", v2) == "Production")
    ModelStore.setProduction(root, "m", v3)
    assert(ModelStore.productionVersion(root, "m").contains(v3))
    assert(ModelStore.stage(root, "m", v3) == "Production")
    assert(ModelStore.stage(root, "m", v2) == "Archived")
    assert(ModelStore.stage(root, "m", v1) == "None")
    assert(ModelStore.versionsInStage(root, "m", "Archived") == Seq(v2))
    // re-promoting the CURRENT production must not archive it
    ModelStore.setProduction(root, "m", v3)
    assert(ModelStore.stage(root, "m", v3) == "Production")
    intercept[IllegalArgumentException] {
      ModelStore.setStage(root, "m", v3, "Retired") // not a stage
    }
    // Production is pointer-defined: a direct setStage to it would write
    // an audit-log transition that the read path (pointer reconciliation)
    // contradicts — only setProduction may write it
    intercept[IllegalArgumentException] {
      ModelStore.setStage(root, "m", v1, "Production")
    }
    assert(ModelStore.stage(root, "m", v1) == "None",
      "rejected transition must leave the stage untouched")
    val loaded = PipelineModel.load(ModelStore.productionPath(root, "m"))
    val a = Matcher.score(model, df).select("idA", "match_score")
      .as[(Int, Double)].collect().toMap
    val b = Matcher.score(loaded, df).select("idA", "match_score")
      .as[(Int, Double)].collect().toMap
    assert(a == b) // persisted model scores identically

    // the pointer is the SOURCE OF TRUTH for Production: a crashed or
    // racing promote that left a stale "Production" stage file on a
    // non-pointer version reconciles to Archived on read — there is never
    // more than one version reading Production
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "m", s"v$v1.stage"), "Production")
    assert(ModelStore.stage(root, "m", v1) == "Archived")
    assert(ModelStore.stage(root, "m", v3) == "Production")
    assert(Seq(v1, v2, v3).count(v =>
      ModelStore.stage(root, "m", v) == "Production") == 1)

    // run-metric sidecar: logged with a version, read back exactly,
    // carried by copyVersion (the copy IS the same fitted artifact, so
    // its measured metric still describes it); never invented for a
    // version that logged none
    ModelStore.logMetric(root, "m", v1, "aupr", 0.8125,
      frameFingerprint = "pairs:200:seed42",
      params = Map("maxIter" -> "3", "maxDepth" -> "2"))
    assert(ModelStore.readMetric(root, "m", v1).contains(
      ModelStore.RunMetric("aupr", 0.8125, "pairs:200:seed42",
        Map("maxIter" -> "3", "maxDepth" -> "2"))))
    assert(ModelStore.readMetric(root, "m", v2).isEmpty,
      "an unlogged version must not read a metric")
    val v4 = ModelStore.copyVersion(root, "m", v1)
    assert(ModelStore.readMetric(root, "m", v4) ==
      ModelStore.readMetric(root, "m", v1),
      "copyVersion must carry the metric sidecar")
    intercept[IllegalArgumentException] {
      ModelStore.logMetric(root, "m", 999, "aupr", 0.5)
    }
    // every persisted field is TSV-guarded — a tab in a param value
    // would silently truncate on read; fail at write time instead
    intercept[IllegalArgumentException] {
      ModelStore.logMetric(root, "m", v1, "aupr", 0.5,
        params = Map("note" -> "a\tb"))
    }
    intercept[IllegalArgumentException] {
      ModelStore.logMetric(root, "m", v1, "aupr", 0.5,
        frameFingerprint = "line1\nline2")
    }
    // the registry-as-a-frame view: one row per version, stage from the
    // pointer-reconciled read path, metric columns NULL where unlogged
    val table = ModelStore.metricsTable(spark, root, "m")
      .as[(Int, String, Option[String], Option[Double], Option[String],
           Map[String, String])]
      .collect().map(r => r._1 -> r).toMap
    assert(table.keySet == Set(v1, v2, v3, v4))
    assert(table(v3)._2 == "Production")
    assert(table(v1)._3.contains("aupr") && table(v1)._4.contains(0.8125))
    assert(table(v1)._6 == Map("maxIter" -> "3", "maxDepth" -> "2"))
    assert(table(v2)._3.isEmpty, "unlogged version must carry NULL metric")
    assert(table(v4)._4 == table(v1)._4, "copied version carries the metric")
  }

  test("fit memo: concurrent computes on distinct keys never serialize " +
       "or deadlock; duplicate keys compute once; a failure is evicted") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val memo = new Matcher.FitMemo
    def key(i: Int) = Matcher.GbtCandidate(i, 0.1, 1.0)
    // Cross-key dependency: key 0's compute BLOCKS until 64 other keys
    // have all completed their own computes on other threads. Under a
    // compute-inside-computeIfAbsent memo this deadlocks (64 keys over a
    // 16-bin initial table guarantee bin collisions with the in-flight
    // key-0 compute, and a collided computeIfAbsent blocks on the bin
    // lock key 0 holds); the promise memo claims with putIfAbsent and
    // computes outside any lock, so it must finish well inside the bound.
    val others = new CountDownLatch(64)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(65)
    try {
      val blocked = pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = memo.trial(key(0), 1) {
          assert(others.await(30, TimeUnit.SECONDS),
            "peer computes starved while key 0 was in flight — memo serializes")
          0.0
        }
      })
      (1 to 64).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = { memo.trial(key(i), 1)(i.toDouble); others.countDown() }
        })
      }
      assert(blocked.get(60, TimeUnit.SECONDS) == 0.0)
      assert(memo.trialCount == 65)

      // duplicate requests for ONE key: exactly one compute runs; every
      // caller (claimant and waiters alike) sees its result
      val computes = new java.util.concurrent.atomic.AtomicInteger
      val results = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double =
            memo.trial(key(100), 2) { computes.incrementAndGet(); 7.0 }
        })
      }.map(_.get(30, TimeUnit.SECONDS))
      assert(computes.get() == 1 && results.forall(_ == 7.0))

      // a FAILED compute must not poison the key: the failure propagates
      // to its caller, and a retry recomputes successfully
      intercept[RuntimeException] {
        memo.trial(key(200), 3)(throw new RuntimeException("boom"))
      }
      assert(memo.trial(key(200), 3)(9.0) == 9.0)
    } finally pool.shutdownNow()
  }
}
