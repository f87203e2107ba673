package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._
import graft.er.{Catalogs, EntityResolution}

/** End-to-end public API: the full notebook-01→02→03 flow on the sf0.001
  * catalogs, with a match-quality bar (the reference's implicit oracle —
  * average precision on held-out golden labels, SURVEY §5). */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cfg = EntityResolution.Config(
    w2vMaxIter = 2, gbtMaxIterGrid = Seq(10), gbtMaxDepthGrid = Seq(3),
    descriptBlocking = false) // fixture descriptions are ~6 distinct strings

  private lazy val (feats, golden) = {
    val a = Catalogs.sideA(spark, sf).withColumn("table", lit("abt"))
    val b = Catalogs.sideB(spark, sf).withColumn("table", lit("buy"))
    val all = a.unionByName(b).select("table", "id", "name", "description", "price")
    (EntityResolution.fitFeatureModels(all, cfg)._2.cache(), Catalogs.golden(spark, sf))
  }

  test("candidates: LSH blocking recalls every golden identity pair") {
    val cands = EntityResolution.nameCandidates(feats, cfg)
    // golden pairs are identity pairs; side B's name embeds side A's tokens,
    // so every golden pair must survive blocking at the 1.3 threshold
    val goldenSet = golden.as[(Long, Long)].collect().toSet
    val candSet = cands.as[(Long, Long)].collect().toSet
    val recall = goldenSet.intersect(candSet).size.toDouble / goldenSet.size
    assert(recall >= 0.95, s"blocking recall $recall")
  }

  test("description blocking: second-pass candidates union in when enabled") {
    val dCands = EntityResolution.descriptCandidates(feats, cfg)
    assert(dCands.count() > 0)
    val withD = EntityResolution.labeledCandidates(feats, golden,
      cfg.copy(descriptBlocking = true)).count()
    val withoutD = EntityResolution.labeledCandidates(feats, golden, cfg).count()
    assert(withD >= withoutD) // union can only add candidates
  }

  test("train: held-out areaUnderPR clears the quality bar; scoring ranks " +
       "golden pairs above non-matches") {
    val labeled = EntityResolution.labeledCandidates(feats, golden, cfg)
    val trained = EntityResolution.train(feats, labeled, cfg)
    // sf0.001 holds out only ~25 positives, so the seeded AUPR moves with
    // which specific pairs land in the test split (0.67-0.9 across split
    // schemes); the bar guards against a broken model (random ranking on
    // this fixture scores ~0.3), not a particular draw. The sf0.01 gate
    // (m5_train_eval) enforces >0.5 on a 10× test set.
    assert(trained.areaUnderPR > 0.6, s"AUPR ${trained.areaUnderPR}")

    val scored = EntityResolution.scoreAll(
        feats, labeled.select("idA", "idB"), trained.model)
      .join(labeled, Seq("idA", "idB"))
    val byIdentity = scored
      .groupBy(($"idA" === $"idB").as("identity"))
      .agg(avg("match_score").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(byIdentity(true) > byIdentity(false) + 0.3,
      s"identity pairs should far outscore non-matches: $byIdentity")
  }

  test("train: a 2×1 grid runs through the search loop and refits a grid " +
       "point that clears the quality bar") {
    import org.apache.spark.ml.classification.GBTClassificationModel
    val labeled = EntityResolution.labeledCandidates(feats, golden, cfg)
    val grid = cfg.copy(gbtMaxIterGrid = Seq(10, 20), gbtMaxDepthGrid = Seq(3))
    obs.drain()
    val trained = EntityResolution.train(feats, labeled, grid)
    val paths = obs.drain().map(_.path)
    assert(paths.contains("train/grid"),
      s"the grid did not run through the search loop: $paths")
    val gbt = trained.model.stages.last.asInstanceOf[GBTClassificationModel]
    assert(Seq(10, 20).contains(gbt.getMaxIter) && gbt.getMaxDepth == 3,
      s"refit (${gbt.getMaxIter}, ${gbt.getMaxDepth}) is not a grid point")
    assert(trained.areaUnderPR > 0.6, s"AUPR ${trained.areaUnderPR}")
  }

  test("inference loop: MERGE into the feature store + re-block + score") {
    val a = Catalogs.sideA(spark, sf).withColumn("table", lit("abt"))
    val b = Catalogs.sideB(spark, sf).withColumn("table", lit("buy"))
    val all = a.unionByName(b).select("table", "id", "name", "description", "price")
    val (pipes, allFeats) = EntityResolution.fitFeatureModels(all, cfg)
    val store = "/root/repo/target/test_tmp/er_store"
    EntityResolution.writeFeatureStore(allFeats, store, cfg)
    val before = graft.io.IO.readPartitionedStore(spark, store).count()

    val labeled = EntityResolution.labeledCandidates(allFeats.cache(),
      Catalogs.golden(spark, sf), cfg)
    val trained = EntityResolution.train(allFeats, labeled, cfg)

    // updated price for a key subset + one brand-new product id
    val newRows = Catalogs.sideA(spark, sf).where("id % 40 = 0")
      .withColumn("table", lit("abt"))
      .unionByName(Seq(("abt", 999999L, "cold widget", "PROMO", "$9.99"))
        .toDF("table", "id", "name", "description", "price"))
      .select("table", "id", "name", "description", "price")
    val ranked = EntityResolution.inferIncremental(
      newRows, store, pipes, trained.model, cfg)

    // read through the manifest — a raw directory read would also see
    // the superseded generation files the atomic merge left for vacuum
    val after = graft.io.IO.readPartitionedStore(spark, store)
    assert(after.count() == before + 1)        // upsert inserted the new id
    assert(after.where("id = 999999").count() == 1)
    assert(ranked.count() > 0)
    // the brand-new product must surface candidate matches ("cold widget"
    // exists on the buy side under brand prefixes)
    assert(ranked.where("idA = 999999").count() > 0)
    val top = ranked.select("match_score").as[Double].collect()
    assert(top.forall(sc => sc >= 0.0 && sc <= 1.0))
  }

  test("inferIncremental: (idA, idB, match_score) bit-identical to " +
       "dedupedSimilarityJoin + scoreAll over the post-merge store") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val a = Catalogs.sideA(spark, sf).withColumn("table", lit("abt"))
    val b = Catalogs.sideB(spark, sf).withColumn("table", lit("buy"))
    val all = a.unionByName(b).select("table", "id", "name", "description", "price")
    val (pipes, allFeats) = EntityResolution.fitFeatureModels(all, cfg)
    allFeats.cache()
    val store = new java.io.File("target/test_tmp/er_store_exact").getAbsolutePath
    EntityResolution.writeFeatureStore(allFeats, store, cfg)
    val model = EntityResolution.train(allFeats,
      EntityResolution.labeledCandidates(allFeats, golden, cfg), cfg).model
    val cols = Seq("table", "id", "name", "description", "price")
    val firstName = a.orderBy("id").select("name").as[String].head()
    val deltas = Seq(
      // updated prices, a brand-new id, and a new id sharing a stored name
      a.where("id % 40 = 0").withColumn("price", lit("$1.00")).select(cols.map(col): _*)
        .unionByName(Seq(("abt", 999991L, "cold widget", "PROMO", "$9.99"),
          ("abt", 999992L, firstName, "PROMO", "$5.00")).toDF(cols: _*)),
      // a delta holding buy rows: a re-priced stored buy row and a new buy
      // row named like side A's first row, which the new abt rows must find
      b.where("id % 50 = 1").withColumn("price", lit("$2.00")).select(cols.map(col): _*)
        .unionByName(Seq(("buy", 999993L, firstName, "NEW", "$3.00"),
          ("abt", 999994L, firstName, "PROMO", "$4.00")).toDF(cols: _*)))
    val helper = new AdaptiveSparkPlanHelper {}
    for ((d, i) <- deltas.zipWithIndex) {
      val ranked = EntityResolution.inferIncremental(d, store, pipes, model, cfg)
      val got = ranked.collect()
        .map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB"), r.getAs[Double]("match_score")))
      val post = graft.io.IO.readPartitionedStore(spark, store)
      val pairs = graft.blocking.Blocking.dedupedSimilarityJoin(
          EntityResolution.transformCatalog(pipes, d).where("table = 'abt'"),
          post.where("table = 'buy'"), keyCol = "name", featureCol = "name_features",
          threshold = cfg.nameThreshold, bucketLength = cfg.bucketLength,
          numHashTables = cfg.numHashTables, seed = cfg.seed)
        .select("idA", "idB").distinct()
      val want = EntityResolution.scoreAll(post, pairs, model)
        .select("idA", "idB", "match_score").as[(Long, Long, Double)].collect()
      def sorted(x: Array[(Long, Long, Double)]) = x.sortBy(t => (t._1, t._2)).toSeq
      assert(got.nonEmpty && sorted(got) == sorted(want), s"delta $i")
      if (i == 1) assert(got.exists(x => x._1 == 999994L && x._2 == 999993L))
      // one BroadcastHashJoin probe; the final sort's range exchange is the
      // plan's only shuffle
      val plan = ranked.queryExecution.executedPlan
      assert(helper.collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, plan)
      assert(helper.collect(plan) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.isEmpty, plan)
      val shuffles = helper.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1 &&
        shuffles.head.outputPartitioning.isInstanceOf[RangePartitioning], plan)
    }
    allFeats.unpersist()
  }

  test("deploy: registry round-trip serves identical scores") {
    val labeled = EntityResolution.labeledCandidates(feats, golden, cfg)
    val trained = EntityResolution.train(feats, labeled, cfg)
    val root = "/root/repo/target/test_tmp/er_registry"
    val v = EntityResolution.deploy(trained, root, "matcher")
    val loaded = PipelineModel.load(
      graft.matching.ModelStore.productionPath(root, "matcher"))
    val pairs = labeled.select("idA", "idB").limit(50)
    val a = EntityResolution.scoreAll(feats, pairs, trained.model)
      .select("idA", "match_score").as[(Long, Double)].collect().toMap
    val b = EntityResolution.scoreAll(feats, pairs, loaded)
      .select("idA", "match_score").as[(Long, Double)].collect().toMap
    assert(v >= 1 && a == b)
    // deploy logs the run's AUPR with the registered version (the
    // reference's registry pattern): the production pointer's recorded
    // metric answers quality without a refit
    val rec = graft.matching.ModelStore.readMetric(root, "matcher", v)
    assert(rec.exists(m => m.metric == "areaUnderPR" &&
      m.value == trained.areaUnderPR))
    val prodRow = graft.matching.ModelStore.metricsTable(spark, root, "matcher")
      .where(col("stage") === "Production")
      .select("version", "value").as[(Int, Option[Double])].collect()
    assert(prodRow.map(_._1).contains(v) &&
      prodRow.toMap.apply(v).contains(trained.areaUnderPR))
  }
}
