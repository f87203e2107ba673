package graft.queries

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.er.{Catalogs, EntityResolution}
import graft.blocking.Blocking
import graft.features.TextFeatures
import graft.matching.{Distances, Matcher, ModelStore}
import graft.pairs.Pairs
import graft.obs

/** The end-to-end fuzzy-match dataflow (the reference's reason to exist):
  * clean → feature pipelines → LSH blocking → candidate pairs → label join →
  * distance features → GBT train/evaluate → score → ranked matches
  * (notebooks 01→02→03 re-expressed Spark-first).
  *
  * Catalog sides are key-sampled subsets of `part` (deterministic filters) —
  * the production-shaped move for a matching run: dedupe/sample before
  * pairwise work, let LSH keep the pair space near-linear. ML stages emit
  * deterministic summaries (fitted state has no SQL oracle); deep checks
  * live in MatcherSpec/BlockingSpec.
  */
object MatchQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Fitted artifacts are expensive; the reference itself fits once and
    * reuses the persisted models across notebooks (`01:517-531` →
    * `03:357-429`). Mirror that: the feature stage, the trained matcher,
    * the scored and ranked flagship frames, and the m4/m5 training frame
    * are each built once per (session, dir, filter) through
    * [[SessionMemo.value]], so queries sharing a stage
    * (er_flagship_match / x2 / m5) fit it once per session. Every build
    * materializes what it caches (a `count()`), so the memo's sweep
    * exemption covers it. */
  private case class Stage(feats: DataFrame, golden: DataFrame,
                           pipes: EntityResolution.FittedPipelines)

  private val flagshipCfg = EntityResolution.Config(
    // 10 boosted-tree iterations: 5 would halve the per-iteration job
    // overhead but flips the top-500 class-separation invariant at sf0.1
    // (probed: goldenInTop holds at 0.596, separationOk goes false) — the
    // shallower ensemble ties too many scores. 10 is the floor that keeps
    // every flagship contract green.
    w2vMaxIter = 4, gbtMaxIterGrid = Seq(10), gbtMaxDepthGrid = Seq(3),
    // the fixture's description column is ~6 distinct strings — blocking
    // on it is a candidate flood, not a signal
    descriptBlocking = false,
    // fixture-sized store: 16 buckets keeps partition files non-trivial at
    // sf<=0.1 while still exercising the pruned-merge path; production
    // defaults to 64
    storeBuckets = 16,
    // The fixture's 1.3-threshold blocking admits ~900k candidate pairs at
    // sf0.1 (the synthetic names are near-uniform — a weak blocker, unlike
    // the reference's real catalogs). The decision boundary lives on 3
    // scalar distance features, so training reads a 50k stratified sample
    // (ALL positives kept, negatives downsampled — EntityResolution.train)
    // instead of the default 200k: measured 2–3 s less distance-join work
    // per fit with identical ranking quality (flagshipStats golden-in-top
    // and AUPR bounds unchanged; scoring still covers every candidate).
    maxTrainPairs = 50000L)

  /** Build catalogs (subset by key), fit features; memoized per
    * (session, dir, filter). */
  private def featureStage(s: SparkSession, dir: String,
                           keyFilter: String = "id % 10 = 0"): Stage =
    SessionMemo.value(s, s"stage:$dir:$keyFilter") {
      val a = Catalogs.sideA(s, dir).where(keyFilter).withColumn("table", lit("abt"))
      val b = Catalogs.sideB(s, dir).where(keyFilter).withColumn("table", lit("buy"))
      val all = a.unionByName(b).select("table", "id", "name", "description", "price")
      val (pipes, cached) = obs.span("features") {
        val (pipes, feats) = EntityResolution.fitFeatureModels(all, flagshipCfg)
        val cached = feats.cache()
        cached.count() // materialize INSIDE the memo build — a lazy
                       // cache registers no RDD and the sweep would evict it
        (pipes, cached)
      }
      // golden pairs restricted to the sampled subset (semi-join on A ids)
      Stage(cached, Catalogs.golden(s, dir)
        .join(a.select(col("id").as("idA")), Seq("idA"), "left_semi"), pipes)
    }

  /** Labeled candidates + trained matcher for a stage; memoized. */
  private def trainedMatcher(s: SparkSession, dir: String,
                             keyFilter: String = "id % 10 = 0"): (PipelineModel, DataFrame) =
    SessionMemo.value(s, s"matcher:$dir:$keyFilter") {
      val st = featureStage(s, dir, keyFilter)
      // the LSH runs inside labeledCandidates (its name_lsh span); the
      // count materializes the label join
      val labeled = obs.span("labeled_candidates") {
        val l = EntityResolution.labeledCandidates(st.feats, st.golden, flagshipCfg)
          .cache()
        l.count() // materialize inside the memo build (see featureStage)
        l
      }
      val trained = EntityResolution.train(st.feats, labeled, flagshipCfg)
      (trained.model, labeled)
    }

  /** Candidate-pair count of the flagship's LSH blocking stage — the
    * probe surface [[graft.ScaleProbe]] uses to assert candidates grow
    * ~linearly in distinct keys under corpus inflation. Reads the
    * matcher memo's cached labeled frame (the identical
    * labeledCandidates derivation), so in a session that also ran the
    * flagship the count is a cache read — re-deriving the ~900k-pair
    * blocking join here would double-charge the probe's flagship
    * attribution. */
  private[graft] def flagshipCandidateCount(s: SparkSession, dir: String,
                                            keyFilter: String = "id % 10 = 0"): Long =
    trainedMatcher(s, dir, keyFilter)._2.count()

  /** Full match flow on a key subset; returns the scored, ranked pairs
    * (materialized via cache so sibling queries reuse results, not plans). */
  def flagship(s: SparkSession, dir: String, keyFilter: String = "id % 10 = 0"): DataFrame =
    SessionMemo.value(s, s"flagship:$dir:$keyFilter") {
      val df = flagshipUncached(s, dir, keyFilter).cache()
      df.count() // materialize once; later executions are cache reads
      df
    }

  /** The scored candidate frame (every labeled pair with its match
    * probability), cached + materialized per (session, dir, filter):
    * the flagship's top-500 and er_uncertainty's least-confident-100 are
    * both cuts of this one deterministic scoring pass — uncached, each
    * paid the 906k-pair distance-attach + model transform again. */
  private def scoredAll(s: SparkSession, dir: String,
                        keyFilter: String = "id % 10 = 0"): DataFrame =
    SessionMemo.value(s, s"scored:$dir:$keyFilter") {
      val st = featureStage(s, dir, keyFilter)
      val (model, labeled) = trainedMatcher(s, dir, keyFilter)
      // UN-ranked on purpose: scoreAll ends in a global orderBy that
      // every consumer here immediately re-cuts with its own
      // TakeOrdered (top-500 by score / top-100 by uncertainty) — the
      // collapse that eliminates the range exchange only happens when
      // the sort is NOT materialized, so the cache holds score(dists)
      // and each consumer keeps its own ordered limit.
      val dists = Distances.pairDistances(labeled.select("idA", "idB"),
        st.feats.where("table = 'abt'"), st.feats.where("table = 'buy'"))
      obs.span("score") {
        val df = Matcher.score(model, dists).cache()
        df.count() // materialize inside the memo build (see featureStage)
        df
      }
    }

  private def flagshipUncached(s: SparkSession, dir: String, keyFilter: String): DataFrame = {
    val (_, labeled) = trainedMatcher(s, dir, keyFilter)
    // rank + top-500 FIRST (TakeOrderedAndProject — no global sort, no
    // full-width shuffle), then attach labels to the 500 survivors with a
    // broadcast join. Joining labels before the limit shuffled the whole
    // candidate frame twice (906k x 906k pair join at sf0.1) to label rows
    // the limit was about to discard. Every scored pair came FROM labeled,
    // so the post-limit inner join keeps exactly the same 500 rows.
    broadcast(
        scoredAll(s, dir, keyFilter)
          .orderBy(col("match_score").desc, col("idA"), col("idB"))
          .limit(500))
      .join(labeled, Seq("idA", "idB"))
      .orderBy(col("match_score").desc, col("idA"), col("idB"))
      .select(col("idA"), col("idB"), col("label"), round(col("match_score"), 3).as("match_score"))
  }

  /** Measured contract stats for the J4 LSH similarity join vs the exact
    * cross-join baseline (J5's operator) on the same id%20 subsets: recall
    * of the exact < threshold pair set (bucket-collision-dependent ⇒
    * invariant boolean), zero false positives (the join post-filters by
    * exact distance, so any pair outside the exact set is a defect), and
    * distance consistency on the common pairs. */
  private[graft] case class LshJoinStats(nExact: Long, recall: Double,
                                         falsePos: Long, distMismatch: Long)

  private[graft] def lshJoinStats(s: SparkSession, dir: String): LshJoinStats =
    graft.Sweep.pinned { pin =>
      val st = featureStage(s, dir)
      val a = st.feats.where("table = 'abt' and id % 20 = 0")
      val b = st.feats.where("table = 'buy' and id % 20 = 0")
      val lsh = pin(Blocking.dedupedSimilarityJoin(a, b, keyCol = "name",
          featureCol = "name_features", threshold = 1.3)
        .select(col("idA"), col("idB"), round(col("distance"), 6).as("d")).cache())
      val exact = pin(Blocking.crossJoinExact(a, b, "name_features", 1.3)
        .select(col("idA"), col("idB"), round(col("distance"), 6).as("ed")).cache())
      val nExact = exact.count()
      val hit = lsh.join(exact, Seq("idA", "idB")).count()
      val fp = lsh.join(exact, Seq("idA", "idB"), "left_anti").count()
      val distBad = lsh.join(exact, Seq("idA", "idB"))
        .where(col("d") =!= col("ed")).count()
      LshJoinStats(nExact, hit.toDouble / math.max(nExact, 1L), fp, distBad)
    }

  /** Measured contract stats for the flagship match output vs the sampled
    * golden pairs: every golden pair is a candidate by construction
    * (labeledCandidates unions golden in), so the fraction the model ranks
    * into the top-500 is a pure ranking-quality invariant. */
  private[graft] case class FlagshipStats(nGolden: Long, goldenInTop: Double,
                                          scoresBad: Long, labelsBad: Long,
                                          separationOk: Boolean)

  private[graft] def flagshipStats(s: SparkSession, dir: String): FlagshipStats = {
    val ranked = flagship(s, dir) // cached + materialized
    val nGolden = featureStage(s, dir).golden.count()
    val nOut = ranked.count()
    val goldenInTop = ranked.where(col("label") === 1).count()
    val scoresBad = ranked
      .where(col("match_score") < 0.0 || col("match_score") > 1.0).count()
    val labelsBad = ranked.where(!col("label").isin(0, 1)).count()
    val avgRow = ranked.groupBy("label").agg(avg("match_score").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // positives must outscore negatives on average; vacuously true if the
    // top-500 window contains a single class
    val separationOk = (avgRow.get(1), avgRow.get(0)) match {
      case (Some(p), Some(n)) => p > n
      case _ => true
    }
    // denominator: the golden pairs that COULD fit the top-N window — when
    // golden outnumber the 500-row output (sf0.1+), the metric becomes the
    // golden share of the window rather than an unreachable total recall
    FlagshipStats(nGolden,
      goldenInTop.toDouble / math.max(math.min(nGolden, nOut), 1L),
      scoresBad, labelsBad, separationOk)
  }

  /** Measured contract stats for the incremental-inference loop: runs the
    * real pipeline (fitted-pipeline featurization → MERGE into the parquet
    * feature store → LSH probe vs stored side B → score with the trained
    * matcher) and captures the oracle-checkable facts. The memoized
    * flagship stage + matcher stand in for the reference's persisted
    * artifacts reloaded at inference time (`03:357-429`). */
  private[graft] case class InferenceStats(nNew: Long, storeRows: Long,
                                           foreignIds: Long, scoresBad: Long,
                                           nScored: Long)

  private[graft] def inferenceStats(s: SparkSession, dir: String): InferenceStats = graft.Sweep.pinned { pin =>
    val st = featureStage(s, dir)
    val (model, _) = trainedMatcher(s, dir)
    val store = "/root/repo/target/qtmp/er_feature_store"
    EntityResolution.writeFeatureStore(st.feats, store, flagshipCfg)
    // "new/updated products": a key-subset of side A with changed price
    val newRows = Catalogs.sideA(s, dir).where("id % 50 = 0")
      .withColumn("table", lit("abt"))
      .withColumn("price", concat(lit("$9"),
        regexp_replace(col("price"), "\\$", "")))
      .select("table", "id", "name", "description", "price")
    val scored = pin(EntityResolution
      .inferIncremental(newRows, store, st.pipes, model, flagshipCfg)
      .select("idA", "idB", "match_score").cache())
    val nScored = obs.span("score")(scored.count())
    // reclaim superseded generations, then count through the manifest (a
    // raw directory read would also see pre-merge files awaiting vacuum)
    graft.io.IO.vacuumPartitionedStore(s, store)
    val storeRows = graft.io.IO.readPartitionedStore(s, store).count()
    val foreignIds = scored
      .join(newRows.select(col("id").as("idA")), Seq("idA"), "left_anti").count()
    val scoresBad = scored
      .where(col("match_score") < 0.0 || col("match_score") > 1.0).count()
    InferenceStats(newRows.count(), storeRows, foreignIds, scoresBad, nScored)
  }

  /** Session-shared fitted-model memo for the two M4 searches: both run
    * on [[halvingTrainingFrame]] with the same seed/split, so a
    * (candidate, budget) fit either search has already paid — TPE's
    * fixed 8-round trials coincide with halving's final rung, and both
    * refit their winner at 8 rounds on the full frame — is reused
    * bit-identically instead of refit. Keyed (session, dir) like the
    * frame itself, so the memo can never outlive or cross fixtures. */
  private def m4FitMemo(s: SparkSession, dir: String): Matcher.FitMemo =
    SessionMemo.value(s, s"m4_fit_memo:$dir")(new Matcher.FitMemo)

  /** Labeled, distance-featured, class-weighted pair frame the M4/M5
    * training queries search over — MEMOIZED and materialized per
    * (session, dir), like the feature stage it builds on: m4 and m5 run
    * back-to-back in a bench/verify session and would otherwise each pay
    * the candidate-join + distance-join + weight derivation for the
    * identical frame (shared by m4_halving_search and m5_train_eval). */
  private[graft] def halvingTrainingFrame(s: SparkSession, dir: String): DataFrame =
    SessionMemo.value(s, s"training_frame:$dir") {
      val st = featureStage(s, dir)
      val (feats, golden) = (st.feats, st.golden)
      val cands = Fixtures.candidatePairs(s, dir)
        .join(feats.where("table='abt'").select(col("id").as("idA")), "idA")
        .join(feats.where("table='buy'").select(col("id").as("idB")), "idB")
      val labeled = Pairs.labelJoin(cands, golden)
      val dists = Distances.pairDistances(labeled, feats.where("table='abt'"),
        feats.where("table='buy'")).join(labeled, Seq("idA", "idB"))
      obs.span("training_frame") {
        val w = Matcher.addClassWeights(dists).cache()
        w.count() // materialize inside the memo build (see featureStage)
        w
      }
    }

  val defs: Seq[(String, Q)] = Seq(
    // The flagship end-to-end match query (entry() runs the ranked frame at
    // sf0.001), emitted as its verifiable contract: the sampled golden-pair
    // count is oracle-computable; ranking quality, score range, and label
    // domain surface as invariant booleans the driver hash-gates. The
    // ranked pairs themselves still back entry()/x2 and are deep-verified
    // in EntityResolutionSpec.
    "er_flagship_match" -> ((s, dir) => {
      import s.implicits._
      val st = flagshipStats(s, dir)
      Seq((st.nGolden, st.goldenInTop >= ContractBounds.flagshipGoldenInTop,
           st.scoresBad == 0L, st.labelsBad == 0L, st.separationOk))
        .toDF("n_golden", "golden_in_top_ok", "scores_in_unit_interval",
          "labels_binary", "separation_ok")
    }),

    // Round-13 content companion to er_flagship_match: the ranked
    // top-500's (idA, idB, label) projection verified ROW-BY-ROW — every
    // emitted label must equal an INDEPENDENT golden-membership join
    // (recomputed from the raw golden table, not the training path's
    // labeled frame), the pairs must be distinct, and the output count
    // must equal min(500, candidate count) exactly. Ranked MEMBERSHIP is
    // model state (the blocking is seeded LSH and the scores come from
    // the GBT), so the pair list itself has no SQL form — this pins
    // everything about the ranked content that can be independently
    // recomputed, one step past the flagship's aggregate invariants.
    "er_flagship_top_pairs" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val pairs = pin(flagship(s, dir).select("idA", "idB", "label").cache())
      val n = pairs.count()
      val expected = math.min(500L, trainedMatcher(s, dir)._2.count())
      val golden = featureStage(s, dir).golden.select("idA", "idB")
        .withColumn("__g", lit(1))
      val wrong = pairs.join(golden, Seq("idA", "idB"), "left")
        .where(col("label") =!= coalesce(col("__g"), lit(0))).count()
      val dups = n - pairs.select("idA", "idB").distinct().count()
      Seq((featureStage(s, dir).golden.count(),
          n == expected, wrong == 0L, dups == 0L))
        .toDF("n_golden", "count_exact", "labels_match_golden",
          "pairs_distinct")
    }),

    // J4 — LSH approximate similarity join on name features (A vs B — the
    // documented semantics, not the reference's `02:144-145` self-join slip),
    // emitted as its contract vs the exact cross-join baseline. Reuses the
    // memoized default feature stage and key-filters its output (id%20 ⊂
    // id%10) rather than refitting a second pipeline stack — the reference
    // likewise fits features once and blocks over subsets. Duplicate name
    // keys never flow through the LSH explode/dedup shuffle:
    // dedupedSimilarityJoin blocks distinct keys and expands ids after the
    // distance filter (quadratic-in-duplication otherwise — Blocking.scala).
    "j4_lsh_join" -> ((s, dir) => {
      import s.implicits._
      val st = lshJoinStats(s, dir)
      // the exact pair count is deterministic but has no SQL form (feature
      // vectors); the SQL-pinnable value is the sampled golden-pair count
      val nGoldenSubset = Catalogs.golden(s, dir).where("idA % 20 = 0").count()
      Seq((nGoldenSubset, st.recall >= ContractBounds.lshJoinRecall,
           st.falsePos == 0L, st.distMismatch == 0L))
        .toDF("n_golden_subset", "recall_ok", "no_false_positives", "distances_consistent")
    }),

    // S6 — model artifact save/load round-trip. The output is a verifiable
    // contract (mismatch count must be exactly 0 over exactly the input
    // row count), so the DuckDB oracle can hash-check it even though the
    // fitted state itself has no SQL form.
    "s6_artifact_roundtrip" -> ((s, dir) => {
      val a = Catalogs.sideA(s, dir).where("id % 20 = 0").withColumn("table", lit("abt"))
        .withColumn("description", coalesce(col("description"), lit("")))
      val pipe = TextFeatures.namePipeline().fit(a)
      val path = "/root/repo/target/qtmp/s6_name_pipeline"
      pipe.write.overwrite().save(path)
      val loaded = PipelineModel.load(path)
      val orig = pipe.transform(a).select(col("id"), col("name_features"))
      val rt = loaded.transform(a).select(col("id"), col("name_features").as("nf2"))
      orig.join(rt, "id")
        .agg(sum(when(col("name_features") === col("nf2"), 0).otherwise(1)).as("mismatches"),
             count(lit(1)).as("n_rows"))
    }),

    // F13 — pipeline composition: the three fitted pipelines chained over
    // one frame, vector schema contract asserted by output dims.
    "f13_pipeline_chain" -> ((s, dir) => {
      // vec_stats reads dim off the sparse layout in O(nnz) — the
      // vector_to_array route would densify all 46,656 name coordinates
      // per entity just to measure the declared size
      import graft.functions.VecStats.vec_stats
      val feats = featureStage(s, dir).feats
      feats.select(col("table"), col("id"),
        vec_stats(col("name_features")).getField("dim").as("name_dim"),
        vec_stats(col("descript_features")).getField("dim").as("descript_dim"),
        vec_stats(col("price_features")).getField("dim").as("price_dim"))
    }),

    // M2 — stratified split, emitted as its verifiable contract: the split
    // must partition the input exactly (counts sum back) and preserve the
    // class ratio in every split. Per-split counts themselves are
    // seed-dependent (Bernoulli), so the contract is what an oracle can
    // check; m2b_hash_split is the fully-value-checked split variant.
    "m2_stratified_split" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val labeled = pin(Fixtures.labeledPairs(s, dir).cache())
      val total = labeled.count()
      val globalFrac = labeled.where(col("label") === 1).count().toDouble / total
      val splits = Matcher.stratifiedSplit(labeled, Seq(0.7, 0.15, 0.15))
      val counts = splits.map(_.count())
      val posCounts = splits.map(_.where(col("label") === 1).count())
      val fracs = posCounts.zip(counts).map { case (p, n) => p.toDouble / math.max(n, 1L) }
      // RELATIVE tolerance (+ non-empty positives per split): an absolute
      // 0.1 band would let a split that lost every row of a rare positive
      // class still pass when globalFrac << 0.1
      Seq((total, counts.sum == total,
           posCounts.forall(_ > 0) &&
             fracs.forall(f => math.abs(f - globalFrac) < 0.5 * globalFrac)))
        .toDF("total_rows", "splits_complete", "ratios_preserved")
    }),

    // M2 variant — deterministic content-hash split (reproducible across
    // engines/runs/repartitions, unlike seeded Bernoulli sampling), fully
    // oracle-checked: per-split class counts.
    "m2b_hash_split" -> ((s, dir) =>
      Matcher.withHashSplit(Fixtures.labeledPairs(s, dir),
          Seq("idA", "idB"), Seq(0.7, 0.15, 0.15))
        .groupBy("split", "label").agg(count(lit(1)).as("n"))),

    // M3 — balanced class weights (oracle-checked).
    "m3_class_weights" -> ((s, dir) =>
      Matcher.addClassWeights(Fixtures.labeledPairs(s, dir))
        .select(col("label"), round(col("weight"), 6).as("weight")).distinct()),

    // M4+M5+M6 — grid-searched GBT train + held-out areaUnderPR (metric value
    // sanity-asserted in MatcherSpec). The {5,10}-iteration × depth-3
    // grid runs through Matcher.trainGridMemo since round 12: the same
    // exact-proportion 0.8/0.2 stratified split, candidate space, and
    // session FitMemo as the two m4 searches, so the three training
    // queries fit ONE keyspace over ONE frame — the grid's depth-3 point
    // IS defaultHalvingCandidates' all-default (3, 0.1, 1.0) entry, and
    // any (candidate, budget) fit coinciding across the searches is
    // paid once, bit-identically.
    "m5_train_eval" -> ((s, dir) => {
      import s.implicits._
      // the memoized session-shared frame m4 searches over too — derived
      // and materialized once, not once per training query
      val weighted = halvingTrainingFrame(s, dir)
      val nPairs = weighted.count()
      // SAME partition sizing as the m4 searches — the stratified
      // split's per-row draw is partitioning-dependent, and the shared
      // FitMemo is only valid across searches whose split is identical
      val parts = math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nPairs / 50000L).toInt))
      // grid budget sized to the fixture: boosted-tree cost here is pure
      // per-iteration JOB overhead (the arithmetic candidate set is ~1.7k
      // pairs at sf0.1), so the search runs {5,10} iterations rather than
      // {10,20} — still a real 2-point search (trial+trial+refit); the
      // 3-feature boundary converges well inside 5 trees
      val base = Matcher.GbtCandidate(3, 0.1, 1.0)
      val r = Matcher.trainGridMemo(weighted,
        points = Seq((base, 5), (base, 10)),
        parallelism = 2, coalesceTo = Some(parts),
        memo = Some(m4FitMemo(s, dir)))
      val aupr = r.validationMetric
      // contract output: the pair count is exact (oracle-computable from
      // the candidate CTE), the AUPR bounds are the quality invariant.
      // The >0.5 quality bar applies only when there is enough data to
      // learn from — a sf0.001-sized corpus (a few hundred pairs, a
      // validation split of a handful of positives) legitimately lands
      // below it.
      Seq((nPairs, nPairs < 500L || aupr > 0.5, aupr <= 1.0))
        .toDF("n_pairs", "aupr_ok", "aupr_valid")
    }),

    // M4 (adaptive) — successive-halving hyperparameter search: 16
    // candidates pruned 16 → 4 → 1 (20 evals — 10× the trials of the m5
    // grid) for ~a quarter of the boosting rounds a full-budget 16-cell
    // grid would burn. Contract: exact pair/eval/budget counts (the
    // schedule is deterministic) + the AUPR quality invariant.
    "m4_halving_search" -> ((s, dir) => {
      import s.implicits._
      // session-shared memoized frame (same one m5 trains on)
      val weighted = halvingTrainingFrame(s, dir)
      val nPairs = weighted.count()
      val parts = math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nPairs / 50000L).toInt))
      // fixture-sized budget schedule: eta=4 prunes 16 → 4 → 1, rungs at
      // 2/8 boosting rounds. At fixture scale the cost is pure per-round
      // Spark-job overhead (the frame is a few hundred rows), so total
      // scheduled rounds — 16·2 + 4·8 + 8-round refit = 72 — IS the
      // cost; the prior 3/12 schedule (108 rounds) measured 10.7–13.4 s
      // vs 7.1–7.4 s for this one on an idle local[32] at sf0.1, with the
      // IDENTICAL winner GbtCandidate(7, 0.1, 0.7) and AUPR 0.8303 vs
      // 0.8319 (an eta=3 schedule at 244 rounds was 2.3× slower again)
      // parallelism 16 = one wave for the 16-candidate first rung: each
      // fixture-scale fit is a chain of tiny single-task jobs, so waves
      // serialize on scheduling latency, not cores (A/B on local[32],
      // isolated subset incl. the shared feature stage: 41.3 s at 8 →
      // 29.4 s at 16)
      val r = Matcher.trainHalving(weighted, parallelism = 16,
        minIter = 2, maxIter = 32, eta = 4, coalesceTo = Some(parts),
        memo = Some(m4FitMemo(s, dir)))
      Seq((nPairs, r.evals.toLong, r.budget.toLong,
          nPairs < 500L || r.validationMetric > 0.5,
          r.validationMetric <= 1.0))
        .toDF("n_pairs", "n_evals", "budget_final", "aupr_ok", "aupr_valid")
    }),

    // M4 variant — batch TPE over the same 16-candidate space and the
    // same memoized training frame: the reference's actual hyperopt
    // algorithm (sequential density-ratio conditioning on completed
    // trials), batch-parallel per round. 10 trials at a fixed 8-round
    // budget: 4 seeded-order init, then two adaptive batches of 3 chosen
    // by the l/g density ratio. Contract pins the exact trial count, the
    // fixed budget, and the same AUPR validity booleans as the halving
    // search.
    "m4_tpe_search" -> ((s, dir) => {
      import s.implicits._
      val weighted = halvingTrainingFrame(s, dir)
      val nPairs = weighted.count()
      val parts = math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nPairs / 50000L).toInt))
      val r = Matcher.trainTpe(weighted, parallelism = 16,
        nTrials = 10, nInit = 4, batch = 3, iters = 8,
        coalesceTo = Some(parts), memo = Some(m4FitMemo(s, dir)))
      Seq((nPairs, r.evals.toLong, r.budget.toLong,
          nPairs < 500L || r.validationMetric > 0.5,
          r.validationMetric <= 1.0))
        .toDF("n_pairs", "n_evals", "budget_final", "aupr_ok", "aupr_valid")
    }),

    // M7 — filesystem model registry lifecycle: save v1 WITH its run
    // metric (the reference's registry logs the validation metric beside
    // each version, `03:300-314`), re-register the artifact as v2
    // (file-level copy — the MLWriter round-trip for an unchanged model
    // costs a Spark write job per pipeline stage; the metric record
    // travels with the artifact), promote v2, load Production, score
    // consistency, and verify the PRODUCTION version's recorded metric
    // equals an independent recompute from the loaded model.
    "m7_model_store" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      import graft.functions.VecStats.vec_stats
      val a = Catalogs.sideA(s, dir).where("id % 20 = 0").withColumn("table", lit("abt"))
        .withColumn("description", coalesce(col("description"), lit("")))
      val pipe = TextFeatures.namePipeline().fit(a)
      val root = "/root/repo/target/qtmp/registry"
      val name = "name_pipeline"
      // the run metric: mean nnz of the fitted name features over the
      // training frame — deterministic given the seeded pipeline, so the
      // round-trip check is exact equality, not a tolerance. Each model's
      // transformed frame is pinned (optimization round 14, guide §1.2):
      // it feeds BOTH the metric aggregate and the score-consistency
      // join, and untransformed it re-ran the whole feature chain per
      // consumer.
      def transformed(m: PipelineModel): DataFrame =
        pin(m.transform(a).select(col("id"), col("name_features")).cache())
      def meanNnz(t: DataFrame): Double = t
        .agg(avg(vec_stats(col("name_features")).getField("nnz")))
        .head().getDouble(0)
      val pipeT = transformed(pipe)
      val v1 = ModelStore.save(pipe, root, name)
      ModelStore.logMetric(root, name, v1, "mean_name_nnz", meanNnz(pipeT),
        frameFingerprint = s"sideA:id%20=0:$dir",
        params = Map("pipeline" -> "namePipeline"))
      ModelStore.setProduction(root, name, v1)
      val v2 = ModelStore.copyVersion(root, name, v1)
      ModelStore.setProduction(root, name, v2)
      val prod = PipelineModel.load(ModelStore.productionPath(root, name))
      val prodT = transformed(prod)
      val same = prodT
        .join(pipeT.select(col("id"), col("name_features").as("nf2")), "id")
        .where(col("name_features") =!= col("nf2")).count() == 0
      // the MLflow promote semantics the reference drives (03:326-343):
      // promoting v2 ARCHIVES the previous Production version explicitly
      val lifecycleOk = ModelStore.stage(root, name, v1) == "Archived" &&
        ModelStore.stage(root, name, v2) == "Production"
      // "which Production model, at what measured quality?" answered
      // from the registry alone: the pointer's recorded metric must
      // equal the refit-free recompute from the loaded artifact
      val rec = ModelStore.readMetric(root, name,
        ModelStore.productionVersion(root, name).get)
      val metricOk = rec.exists(m =>
        m.metric == "mean_name_nnz" && m.value == meanNnz(prodT) &&
          m.params.get("pipeline").contains("namePipeline"))
      Seq((v1 < v2, ModelStore.productionVersion(root, name).contains(v2),
           lifecycleOk, same, metricOk))
        .toDF("versions_increment", "production_points_at_v2",
          "old_version_archived", "prod_scores_match",
          "prod_metric_matches_refit")
    }),

    // X2 — model scoring through native transform (no UDF boundary),
    // emitted as its verifiable contract: every labeled candidate pair is
    // scored (capped at the 500-row ranked window), every score a
    // probability. (The ranked pairs back entry(); score values are
    // model-state-dependent and have no SQL form.)
    "x2_model_score" -> ((s, dir) => {
      import s.implicits._
      val n = flagship(s, dir).count()
      val (_, labeled) = trainedMatcher(s, dir)
      val expected = math.min(500L, labeled.count())
      val scoresBad = flagship(s, dir)
        .where(col("match_score") < 0.0 || col("match_score") > 1.0).count()
      Seq((n == expected, n <= 500L, scoresBad == 0L))
        .toDF("scored_all_candidates_capped", "capped_at_500",
          "scores_in_unit_interval")
    }),

    // Active-learning candidate selection (beyond-reference ER workflow):
    // the 100 candidate pairs the model is LEAST sure about
    // (|score − 0.5| smallest) — the batch a human labeler reviews next,
    // the standard uncertainty-sampling loop for improving a matcher.
    // TakeOrdered over the scored frame (no global sort); rides the
    // memoized feature stage + trained model. Scores are model state, so
    // the contract pins the structure: exactly 100 picks, probabilities
    // valid, uncertainty non-decreasing, never above the 0.5 ceiling.
    "er_uncertainty" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val picked = pin(scoredAll(s, dir)
        .withColumn("uncertainty", abs(col("match_score") - 0.5))
        .orderBy(col("uncertainty").asc, col("idA"), col("idB"))
        .limit(100).cache())
      val n = picked.count()
      val scoresBad = picked
        .where(col("match_score") < 0.0 || col("match_score") > 1.0).count()
      val u = picked.orderBy(col("uncertainty").asc, col("idA"), col("idB"))
        .select("uncertainty").as[Double].collect() // bounded: 100 rows
      Seq((n, scoresBad == 0L,
          u.length < 2 || u.sliding(2).forall(p => p(0) <= p(1)),
          u.forall(_ <= 0.5)))
        .toDF("n_selected", "scores_in_unit_interval",
          "uncertainty_sorted", "uncertainty_le_half")
    }),

    // The reference's full inference loop (`03:455-579`): featurize
    // new/updated rows with FITTED pipelines, MERGE into the parquet
    // feature store (S5), re-block vs stored features, score, rank —
    // emitted as its verifiable contract. The new-row count and the
    // post-merge store size are oracle-computable (the new keys are a
    // subset of stored keys, so the MERGE is a pure update); candidate
    // membership and score range surface as invariant booleans.
    "er_inference" -> ((s, dir) => {
      import s.implicits._
      val st = inferenceStats(s, dir)
      Seq((st.nNew, st.storeRows, st.foreignIds == 0L,
           st.scoresBad == 0L, st.nScored > 0L))
        .toDF("n_new_rows", "store_rows_after_merge", "scored_ids_from_new_rows",
          "scores_in_unit_interval", "scored_nonempty")
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // contract oracles: deterministic values computed in SQL, invariant
    // booleans as literals — the driver's hash compare now FAILS if the
    // round-trip mismatches, a split loses rows, a score leaves [0,1],
    // or the registry lifecycle breaks
    "s6_artifact_roundtrip" ->
      s"""SELECT CAST(0 AS BIGINT) AS mismatches, CAST(count(*) AS BIGINT) AS n_rows
         |FROM (${Catalogs.sideASql}) WHERE id % 20 = 0""".stripMargin,
    // the exact < 1.3 pair count is feature-vector state (HashingTF) with
    // no SQL form, so the j4 contract's SQL-computable value column is the
    // sampled golden-pair count (idA ≡ idB, id%20 subset) — it pins the
    // fixture identity while recall vs the in-Spark exact cross-join
    // surfaces as the invariant boolean
    "j4_lsh_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_golden_subset, true AS recall_ok,
        |  true AS no_false_positives, true AS distances_consistent
        |FROM part WHERE p_partkey % 3 != 0 AND p_partkey % 20 = 0""".stripMargin,
    "er_flagship_match" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_golden, true AS golden_in_top_ok,
        |  true AS scores_in_unit_interval, true AS labels_binary,
        |  true AS separation_ok
        |FROM part WHERE p_partkey % 3 != 0 AND p_partkey % 10 = 0""".stripMargin,
    "er_inference" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_new_rows,
        |  (SELECT CAST(2 * count(*) AS BIGINT) FROM part WHERE p_partkey % 10 = 0)
        |    AS store_rows_after_merge,
        |  true AS scored_ids_from_new_rows, true AS scores_in_unit_interval,
        |  true AS scored_nonempty
        |FROM part WHERE p_partkey % 50 = 0""".stripMargin,
    "m7_model_store" ->
      """SELECT true AS versions_increment, true AS production_points_at_v2,
        |  true AS old_version_archived, true AS prod_scores_match,
        |  true AS prod_metric_matches_refit""".stripMargin,
    // content companion: the golden count is SQL-exact; the per-row
    // label/distinctness/count verifications over the full ranked output
    // are model-state booleans the driver hash-gates
    "er_flagship_top_pairs" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_golden, true AS count_exact,
        |  true AS labels_match_golden, true AS pairs_distinct
        |FROM part WHERE p_partkey % 3 != 0 AND p_partkey % 10 = 0""".stripMargin,
    "f13_pipeline_chain" ->
      s"""SELECT t."table", t.id, CAST(46656 AS INT) AS name_dim,
         |  CAST(50 AS INT) AS descript_dim, CAST(1 AS INT) AS price_dim
         |FROM (SELECT 'abt' AS "table", id FROM (${Catalogs.sideASql}) WHERE id % 10 = 0
         |      UNION ALL
         |      SELECT 'buy' AS "table", id FROM (${Catalogs.sideBSql}) WHERE id % 10 = 0) t""".stripMargin,
    "x2_model_score" ->
      """SELECT true AS scored_all_candidates_capped, true AS capped_at_500,
        |  true AS scores_in_unit_interval""".stripMargin,
    // contract: the selection size is fixed by construction (candidate
    // sets far exceed 100 at every fixture SF); the uncertainty-sampling
    // invariants surface as booleans
    "er_uncertainty" ->
      """SELECT CAST(100 AS BIGINT) AS n_selected, true AS scores_in_unit_interval,
        |  true AS uncertainty_sorted, true AS uncertainty_le_half""".stripMargin,
    "m2_stratified_split" ->
      s"""WITH ${Fixtures.labeledCte}
         |SELECT CAST(count(*) AS BIGINT) AS total_rows,
         |  true AS splits_complete, true AS ratios_preserved
         |FROM labeled""".stripMargin,
    "m5_train_eval" ->
      s"""WITH ${Fixtures.candsCte}
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  true AS aupr_ok, true AS aupr_valid
         |FROM cands WHERE idA % 10 = 0 AND idB % 10 = 0""".stripMargin,
    // successive-halving schedule is fully deterministic: 16 candidates,
    // eta=4 → rungs of 16+4 = 20 evals, final budget 2·4 = 8 rounds
    "m4_halving_search" ->
      s"""WITH ${Fixtures.candsCte}
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(20 AS BIGINT) AS n_evals, CAST(8 AS BIGINT) AS budget_final,
         |  true AS aupr_ok, true AS aupr_valid
         |FROM cands WHERE idA % 10 = 0 AND idB % 10 = 0""".stripMargin,
    "m4_tpe_search" ->
      s"""WITH ${Fixtures.candsCte}
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(10 AS BIGINT) AS n_evals, CAST(8 AS BIGINT) AS budget_final,
         |  true AS aupr_ok, true AS aupr_valid
         |FROM cands WHERE idA % 10 = 0 AND idB % 10 = 0""".stripMargin,
    "m2b_hash_split" ->
      s"""WITH ${Fixtures.labeledCte},
         |b AS (SELECT label,
         |        ('0x' || substr(md5(concat(idA, '_', idB)), 1, 6))::BIGINT % 1000 AS bkt
         |      FROM labeled)
         |SELECT CASE WHEN bkt < 700 THEN 0 WHEN bkt < 850 THEN 1 ELSE 2 END AS split,
         |       label, CAST(count(*) AS BIGINT) AS n
         |FROM b GROUP BY 1, 2""".stripMargin,
    "m3_class_weights" ->
      s"""WITH ${Fixtures.labeledCte},
         |counts AS (SELECT label, count(*) AS n FROM labeled GROUP BY label),
         |total AS (SELECT sum(n) AS tot, count(*) AS k FROM counts)
         |SELECT DISTINCT label, round(CAST(tot AS DOUBLE) / (k * n), 6) AS weight
         |FROM counts, total""".stripMargin
  )
}
