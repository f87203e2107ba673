package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import graft.blocking.Blocking

/** J4/J5 — LSH similarity-join semantics vs the exact cross-join oracle
  * (SURVEY §5 property tests; A-vs-B semantics pinned per §7.4). */
class BlockingSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Int, Array[Double])*) =
    rows.map { case (id, a) => (id, Vectors.dense(a)) }.toDF("id", "f")

  private val a = vecs(
    1 -> Array(0.0, 0.0), 2 -> Array(5.0, 5.0), 3 -> Array(10.0, 0.0))
  private val b = vecs(
    11 -> Array(0.1, 0.0), 12 -> Array(5.0, 5.2), 13 -> Array(-10.0, 0.0))

  test("precision: every LSH pair is within the exact threshold") {
    val model = Blocking.fitLsh(a, "f", bucketLength = 2.0, numHashTables = 6)
    val approx = Blocking.similarityJoin(model, a, b, threshold = 1.0)
      .select("idA", "idB").as[(Int, Int)].collect().toSet
    val exact = Blocking.crossJoinExact(a, b, "f", threshold = 1.0)
      .select("idA", "idB").as[(Int, Int)].collect().toSet
    assert(approx.subsetOf(exact)) // distance filter is exact post-blocking
  }

  test("recall: zero-distance pairs always collide (same buckets)") {
    val ident = vecs(21 -> Array(0.0, 0.0), 22 -> Array(5.0, 5.0))
    val model = Blocking.fitLsh(a, "f", bucketLength = 2.0, numHashTables = 6)
    val approx = Blocking.similarityJoin(model, a, ident, threshold = 0.5)
      .select("idA", "idB").as[(Int, Int)].collect().toSet
    assert(approx.contains((1, 21)) && approx.contains((2, 22)))
  }

  test("A-vs-B semantics: idA drawn from side A, idB from side B " +
       "(not the reference's 02:144-145 self-join slip)") {
    val model = Blocking.fitLsh(a, "f", bucketLength = 2.0, numHashTables = 6)
    val pairs = Blocking.similarityJoin(model, a, b, threshold = 2.0)
      .select("idA", "idB").as[(Int, Int)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (ia, ib) =>
      assert(Set(1, 2, 3)(ia) && Set(11, 12, 13)(ib))
    }
  }

  test("recall on real features: LSH finds all golden identity pairs") {
    // identical name → identical tf-idf vector → distance 0 → guaranteed hit
    val names = Tables.part(spark, sf).limit(60)
      .selectExpr("p_partkey as id", "p_name as name")
    val m = graft.features.TextFeatures.namePipeline().fit(names)
    val feats = m.transform(names).select($"id", $"name_features".as("f"))
    val model = Blocking.fitLsh(feats, "f")
    val approx = Blocking.similarityJoin(model, feats, feats, threshold = 0.1)
      .where($"idA" === $"idB") // self-pairs = golden identity matches
      .count()
    assert(approx == 60)
  }

  test("salted bucket join: a hot bucket spreads across reducers, pairs unchanged") {
    // every vector identical -> every key lands in the SAME bucket of every
    // hash table; unsalted, each table's 60x60 pair space serializes
    // through one reducer
    val hotA = (1 to 60).map(i => (s"a$i", Vectors.dense(1.0, 1.0))).toDF("key", "f")
    val hotB = (1 to 60).map(i => (s"b$i", Vectors.dense(1.0, 1.0))).toDF("key", "f")
    val model = Blocking.fitLsh(hotA, "f", bucketLength = 2.0, numHashTables = 4)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // AQE would re-coalesce these KB-sized test partitions into one, and a
    // KB-sized side would broadcast (no shuffle by join key = nothing to
    // salt); at real scale partitions exceed the coalesce target and the
    // sides exceed the broadcast threshold — force the shuffle path the
    // skew story is about
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def partCounts(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq.filter(_ > 0)
      val un = Blocking.saltedBucketJoin(model, hotA, hotB, salts = 1)
      val sa = Blocking.saltedBucketJoin(model, hotA, hotB, salts = 8)
      // identical candidate pairs — salting only re-routes the work
      assert(sa.distinct().count() == un.distinct().count())
      assert(un.count() == 4L * 60 * 60)
      val (unParts, saParts) = (partCounts(un), partCounts(sa))
      // unsalted: at most numHashTables join keys -> at most 4 busy reducers
      assert(unParts.size <= 4, s"unsalted spread: $unParts")
      // salted: 4 tables x 8 salts = 32 join keys fan out wide, and no
      // reducer carries a full table-bucket anymore
      assert(saParts.size >= 3 * unParts.size, s"salted spread: $saParts")
      assert(saParts.max < unParts.max,
        s"salting must shrink the largest reducer: ${unParts.max} -> ${saParts.max}")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("dedupedSimilarityJoin matches the MLlib approxSimilarityJoin pair set") {
    // same fitted hashes, same exact-distance post-filter -> same pairs
    val names = Tables.part(spark, sf).limit(80)
      .selectExpr("p_partkey as id", "p_name as name")
    val m = graft.features.TextFeatures.namePipeline().fit(names)
    val feats = m.transform(names).select($"id", $"name", $"name_features")
    val manual = Blocking.dedupedSimilarityJoin(feats, feats, keyCol = "name",
        featureCol = "name_features", threshold = 1.3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val reps = feats.groupBy($"name".as("key"))
      .agg(first($"name_features").as("f")).withColumn("id", $"key")
    val model = Blocking.fitLsh(reps, "f")
    val mllib = Blocking.similarityJoin(model, reps, reps, threshold = 1.3)
      .join(feats.select($"name".as("idA"), $"id".as("ida2")), Seq("idA"))
      .join(feats.select($"name".as("idB"), $"id".as("idb2")), Seq("idB"))
      .select($"ida2", $"idb2").as[(Long, Long)].collect().toSet
    assert(manual == mllib)
  }

  /** A feature store in miniature for the incremental probe: fixture part
    * names and token-dropped variants through one fitted name pipeline, so
    * equal names carry equal vectors (the invariant dedupedSimilarityJoin's
    * per-key representatives rest on). */
  private lazy val namePool: Vector[(String, org.apache.spark.ml.linalg.Vector)] = {
    val names = Tables.part(spark, sf).limit(60).select("p_name").as[String].collect()
    val variants = names.flatMap { n =>
      val t = n.split(" ")
      Seq(n, t.drop(1).mkString(" "), t.dropRight(1).mkString(" "))
    }.distinct.toSeq.toDF("name")
    graft.features.TextFeatures.namePipeline().fit(variants).transform(variants)
      .select("name", "name_features").collect()
      .map(r => r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1)).toVector
  }

  private type Feat = (Long, String, org.apache.spark.ml.linalg.Vector)
  private def feats(rows: Seq[Feat]) = rows.toDF("id", "name", "f")

  /** (probe, MLlib approxSimilarityJoin, dedupedSimilarityJoin) pair sets of
    * delta side A against stored side B at the flagship's threshold; the
    * MLlib oracle sees only non-NULL names, the rows the key join keeps. */
  private def threeWays(a: Seq[Feat], b: Seq[Feat]): Seq[Set[(Long, Long)]] = {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("idA", "idB").as[(Long, Long)].collect().toSet
    val probeRows = Blocking.probeSimilarityJoin(feats(a), feats(b), keyCol = "name",
      featureCol = "f", threshold = 1.3).select("idA", "idB").as[(Long, Long)].collect()
    val probe = probeRows.toSet
    assert(probeRows.length == probe.size, "the probe emitted a pair twice")
    val (an, bn) = (feats(a.filter(_._2 != null)), feats(b.filter(_._2 != null)))
    val mllib = pairs(Blocking.similarityJoin(Blocking.fitLsh(an, "f"), an, bn, 1.3))
    val deduped = pairs(Blocking.dedupedSimilarityJoin(feats(a), feats(b),
      keyCol = "name", featureCol = "f", threshold = 1.3))
    Seq(probe, mllib, deduped)
  }

  test("probeSimilarityJoin: same pair set as approxSimilarityJoin and " +
       "dedupedSimilarityJoin on the fixture and 24 seeded random deltas") {
    val pool = namePool
    val rnd0 = new scala.util.Random(11)
    def name(r: scala.util.Random) = pool(r.nextInt(pool.size))
    // stored rows: 40 abt, 60 buy (duplicate names included), 3 NULL-name
    // buy rows carrying a real vector
    val abt = (1L to 40L).map { i => val (n, v) = name(rnd0); (i, n, v) }
    val buy = (1001L to 1060L).map { i => val (n, v) = name(rnd0); (i, n, v) } ++
      (1061L to 1063L).map(i => (i, null: String, name(rnd0)._2))
    // the fixture: every stored abt row as one batch
    val fixture = threeWays(abt, buy)
    assert(fixture.head.nonEmpty && fixture.forall(_ == fixture.head),
      s"fixture pair sets differ: ${fixture.map(_.size)}")
    var paired = 0
    for (seed <- 1 to 24) {
      val r = new scala.util.Random(seed)
      val updated = r.shuffle(abt).take(1 + r.nextInt(4)).map { case (i, _, _) =>
        val (n, v) = name(r); (i, n, v) }
      val fresh = (1 to r.nextInt(4)).map { k => val (n, v) = name(r); (5000L + k, n, v) }
      // a duplicate name inside the delta, a NULL name, and buy rows
      val dup = if (seed % 3 == 0 && fresh.nonEmpty) Seq((6000L, fresh.head._2, fresh.head._3)) else Nil
      val nulls = if (seed % 4 == 1) Seq((7000L, null: String, name(r)._2)) else Nil
      val deltaBuy = if (seed % 2 == 0) (1 to 3).map { k =>
        val (n, v) = name(r); (if (k == 1) 1001L + r.nextInt(60) else 8000L + k, n, v) } else Nil
      // seed 24 holds buy rows only: no side-A row to probe with
      val deltaA = if (seed == 24) Nil else updated ++ fresh ++ dup ++ nulls
      val mergedB = (buy.map(x => x._1 -> x).toMap ++ deltaBuy.map(x => x._1 -> x)).values.toSeq
      if (deltaA.count(_._2 != null) == 0) {
        val out = Blocking.probeSimilarityJoin(feats(deltaA), feats(mergedB),
          keyCol = "name", featureCol = "f", threshold = 1.3)
        assert(out.columns.toSeq == Seq("idA", "idB", "distance", "A", "B"))
        assert(out.count() == 0)
      } else {
        val ways = threeWays(deltaA, mergedB)
        assert(ways.forall(_ == ways.head),
          s"seed $seed: probe/mllib/deduped sizes ${ways.map(_.size)}")
        if (ways.head.nonEmpty) paired += 1
      }
    }
    assert(paired >= 20, s"only $paired deltas found any pair")
  }

  test("probeSimilarityJoin: one BroadcastHashJoin on (tbl, bucket), no " +
       "nested loop, no cartesian, no shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val helper = new AdaptiveSparkPlanHelper {}
    val pool = namePool
    val a = feats(pool.take(8).zipWithIndex.map { case ((n, v), i) => (i.toLong, n, v) })
    val b = feats(pool.zipWithIndex.map { case ((n, v), i) => (1000L + i, n, v) })
    val out = Blocking.probeSimilarityJoin(a, b, keyCol = "name", featureCol = "f",
      threshold = 1.3)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan
    val joins = helper.collect(plan) { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, plan)
    assert(joins.head.leftKeys.map(_.references.head.name) == Seq("tbl", "bucket"), plan)
    assert(helper.collect(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
      case e: ShuffleExchangeExec => e
    }.isEmpty, plan)
  }

  test("plan: similarity join stays an equi-join, never cartesian") {
    val model = Blocking.fitLsh(a, "f", bucketLength = 2.0, numHashTables = 6)
    val plan = Blocking.similarityJoin(model, a, b, threshold = 1.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"LSH join degraded to cartesian:\n$plan")
  }
}
