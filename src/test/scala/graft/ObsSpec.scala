package graft

import org.apache.spark.sql.graftshim.Shim
import graft.matching.Matcher

/** `obs.span`: path nesting, job attribution to the innermost span, pool
  * threads landing in their caller's span, and one row per path. */
class ObsSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with a listener attached; return the rows it recorded. */
  private def recorded(body: => Unit): Map[String, obs.Row] = {
    val listener = new obs.Listener
    Shim.drainListenerBus(spark.sparkContext)
    obs.drain()
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      Shim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    obs.drain().map(r => r.path -> r).toMap
  }

  private def job(): Unit = spark.range(100).repartition(2).count()

  test("a thrown body restores the parent path") {
    val rows = recorded {
      obs.span("outer") {
        intercept[IllegalStateException] {
          obs.span("inner")(throw new IllegalStateException("boom"))
        }
        job()
      }
      job()
    }
    assert(rows("outer/inner").calls == 1 && rows("outer/inner").jobs == 0)
    assert(rows("outer").jobs > 0, s"job after the throw left the outer span: $rows")
    assert(rows("").jobs > 0, s"job after the span still tagged: $rows")
  }

  test("a job inside nested spans is attributed to the innermost span only") {
    val rows = recorded(obs.span("a")(obs.span("b")(job())))
    assert(rows("a/b").jobs > 0 && rows("a/b").tasks > 0)
    assert(rows("a").jobs == 0 && rows("a").tasks == 0)
    assert(rows.get("").forall(_.jobs == 0), s"unspanned jobs: $rows")
    assert(rows("a").wallMs >= rows("a/b").wallMs)
  }

  test("jobs from every search's trial futures land in caller/<search>") {
    val rnd = new scala.util.Random(7)
    val df = Matcher.addClassWeights((1 to 200).map { i =>
      val base = if (i % 2 == 1) 0.05 else 1.5
      (base + rnd.nextDouble() * 0.1, base + rnd.nextDouble() * 0.1,
        base + rnd.nextDouble() * 0.05, i % 2)
    }.toDF("name_sqdist", "descript_sqdist", "price_sqdist", "label")).coalesce(2)
    val four = Matcher.defaultHalvingCandidates.take(4)
    val searches: Seq[(String, () => Matcher.HalvingResult)] = Seq(
      "halving" -> (() => Matcher.trainHalving(df, parallelism = 4,
        candidates = four, minIter = 1, maxIter = 2, eta = 2)),
      "tpe" -> (() => Matcher.trainTpe(df, parallelism = 4,
        candidates = four, nTrials = 5, nInit = 3, batch = 2, iters = 1)),
      "grid" -> (() => Matcher.trainGridMemo(df, four.map((_, 1)), parallelism = 4)))
    for ((search, run) <- searches) {
      val rows = recorded(obs.span("caller")(run()))
      val jobs = rows.values.filter(_.jobs > 0)
      assert(jobs.nonEmpty && jobs.forall(_.path.startsWith(s"caller/$search")),
        s"$search trial jobs escaped the caller's span: $rows")
      // four or more trials, each a chain of jobs, under the search's own
      // row; the winner refit's jobs sit under caller/<search>/gbt_fit
      assert(rows(s"caller/$search").jobs > 7, s"$search: $rows")
      assert(rows(s"caller/$search/gbt_fit").jobs > 0, s"$search: $rows")
    }
  }

  test("vector-store serves put their probe checkpoint and cell collect " +
       "under caller/route") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 4")
    val ivf = new java.io.File("target/qtmp/obsspec_route_ivf").getAbsolutePath
    val pq = new java.io.File("target/qtmp/obsspec_route_ivfpq").getAbsolutePath
    graft.io.IO.deletePath(ivf)
    graft.io.IO.deletePath(pq)
    graft.llm.Ann.writeIvfStore(emb, ivf)
    graft.llm.Ann.tuneProbe(spark, ivf, queries, k = 5)
    graft.llm.Ann.writeIvfPqStore(emb, pq)
    val serves: Seq[(String, () => Unit)] = Seq(
      "ivfPqStoreTopK" -> (() =>
        graft.llm.Ann.ivfPqStoreTopK(spark, pq, queries, k = 5).collect()),
      "ivfStoreTopKAtRecall" -> (() =>
        graft.llm.Ann.ivfStoreTopKAtRecall(spark, ivf, queries, k = 5,
          minRecall = 0.9).collect()))
    for ((serve, run) <- serves) {
      val rows = recorded(obs.span("caller")(run()))
      // at least the probe checkpoint and the probed-cell collect
      assert(rows.get("caller/route").exists(_.jobs >= 2), s"$serve: $rows")
      assert(rows.values.filter(_.jobs > 0).forall(_.path.startsWith("caller")),
        s"$serve left unspanned jobs: $rows")
    }
  }

  test("inferIncremental: merge and store-read jobs under their spans, at " +
       "most 16 jobs per batch, none unspanned") {
    import org.apache.spark.sql.functions.lit
    import graft.er.{Catalogs, EntityResolution}
    val cfg = EntityResolution.Config(w2vMaxIter = 2)
    val all = Catalogs.sideA(spark, sf).withColumn("table", lit("abt"))
      .unionByName(Catalogs.sideB(spark, sf).withColumn("table", lit("buy")))
      .select("table", "id", "name", "description", "price")
    val (pipes, feats) = EntityResolution.fitFeatureModels(all, cfg)
    val store = new java.io.File("target/qtmp/obsspec_infer_store").getAbsolutePath
    EntityResolution.writeFeatureStore(feats, store, cfg)
    // any matcher over the three distances will do: the job count is the
    // merge, the store read and the probe's, not the model's
    val rnd = new scala.util.Random(3)
    val model = Matcher.fit(Matcher.addClassWeights((1 to 100).map { i =>
      val base = if (i % 2 == 1) 0.05 else 1.5
      (base + rnd.nextDouble() * 0.1, base, base, i % 2)
    }.toDF("name_sqdist", "descript_sqdist", "price_sqdist", "label")),
      Matcher.GbtCandidate(3, 0.1, 1.0), iters = 2)
    val batch = Catalogs.sideA(spark, sf).where("id % 40 = 0").withColumn("table", lit("abt"))
      .select("table", "id", "name", "description", "price")
    val rows = recorded(obs.span("caller") {
      assert(EntityResolution.inferIncremental(batch, store, pipes, model, cfg)
        .collect().nonEmpty)
    })
    val jobs = rows.values.filter(_.jobs > 0)
    assert(jobs.exists(_.path.startsWith("caller/store_merge")), rows)
    assert(rows.get("caller/store_read").exists(_.jobs > 0), rows)
    assert(jobs.forall(_.path.startsWith("caller")), s"unspanned jobs: $rows")
    assert(jobs.map(_.jobs).sum <= 16, s"${jobs.map(r => r.path -> r.jobs)}")
  }

  test("BM25 and vector-store mutations run every job under the commit " +
       "loop's phases, within their job budgets") {
    import graft.llm.{Ann, Bm25Store}
    val bm = new java.io.File("target/qtmp/obsspec_mut_bm25").getAbsolutePath
    val pq = new java.io.File("target/qtmp/obsspec_mut_ivfpq").getAbsolutePath
    Bm25Store.write((1 to 60).map(i => (i.toLong, s"item $i of kind ${i % 7} color ${i % 5}"))
      .toDF("doc_id", "text"), bm, termBuckets = 16)
    val emb = Tables.embeddings(spark, sf)
    graft.io.IO.deletePath(pq)
    Ann.writeIvfPqStore(emb, pq)
    val docs = Seq((3L, "item three recolored"), (9L, "item nine of kind two"),
      (500L, "a new item"), (501L, "another new item")).toDF("doc_id", "text")
    val vecs = emb.where("vec_id < 4")
    // budgets: the job counts measured on these stores, one attempt each
    val ops: Seq[(String, Int, () => Unit)] = Seq(
      ("Bm25Store.upsert", 24, () => Bm25Store.upsert(docs, bm)),
      ("Bm25Store.delete", 16, () => Bm25Store.delete(spark, bm, docs.select("doc_id"))),
      ("Ann.upsertVectorStore", 14, () => Ann.upsertVectorStore(vecs, pq)),
      ("Ann.deleteFromVectorStore", 10, () =>
        Ann.deleteFromVectorStore(spark, pq, vecs.select("vec_id"))))
    for ((op, budget, run) <- ops) {
      val rows = recorded(obs.span("caller")(run()))
      val jobs = rows.values.filter(_.jobs > 0)
      assert(jobs.forall(r => Seq("locate", "write", "claim", "commit")
        .exists(p => r.path.startsWith(s"caller/$p"))), s"$op: $rows")
      assert(jobs.map(_.jobs).sum <= budget, s"$op: ${jobs.map(r => r.path -> r.jobs)}")
    }
  }

  test("1,000 calls of one span leave one aggregate row") {
    obs.drain()
    (1 to 1000).foreach(_ => obs.span("tick")(()))
    val rows = obs.drain()
    assert(rows.map(_.path) == Seq("tick") && rows.head.calls == 1000)
  }
}
