package graft

import org.apache.spark.sql.functions._
import graft.llm.Ann

/** ANN: brute-force exactness + LSH recall against it. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("bruteTopK: hand-built vectors rank by cosine, query excluded") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.bruteTopK(corpus, corpus.where($"vec_id" === 1), k = 2)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1), (1L, 3L, 2))) // 2 closest, then orthogonal; self excluded
  }

  test("lshTopK: candidate dedup aggregates ids only (vectors re-attach after)") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Ann.lshTopK(emb, emb.where("vec_id < 8"), k = 10)
      .queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    // the distinct's grouping is exactly the two id columns — the dedup
    // exchange carries two longs, not the embedding vectors
    assert(aggs.exists(_.output.map(_.name).toSet == Set("query_id", "nn_id")),
      s"no ids-only dedup aggregate found:\n${aggs.map(_.output.map(_.name))}")
    assert(!aggs.exists(a =>
      a.output.map(_.name).exists(n => n == "cv" || n == "qv")),
      "dedup aggregate still carries vector columns")
  }

  test("lshTopK recall vs brute on the embeddings fixture") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 5")
    val brute = Ann.bruteTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(emb, queries, k = 10, numHashTables = 12, bucketLength = 4.0)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("ivfTopK recall vs brute; probing more cells improves recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 5")
    val brute = Ann.bruteTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int): Double = {
      val ivf = Ann.ivfTopK(emb, queries, k = 10, nCells = 16, nProbe = nProbe)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r8 >= r2, s"more probes must not lose recall: $r2 -> $r8")
    assert(r8 >= 0.5, s"IVF recall at nProbe=8 too low: $r8")
  }

  test("bruteTopK: k bound respected per query") {
    val emb = Tables.embeddings(spark, sf)
    val out = Ann.bruteTopK(emb, emb.where("vec_id < 3"), k = 7)
    val counts = out.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 7))
  }

  test("quantize: hand-computed codes, half-away rounding, near-1 cosine drift") {
    val df = Seq((1L, Array(0.5f, -0.25f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.quantize(df)
      .as[(Long, Double, String, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, scale, qvec, maxErr, drift) = out(1L)
    assert(scale == 0.5)
    // -0.25/0.5*127 = -63.5 → half-AWAY-from-zero → -64 (math.round gives -63)
    assert(qvec == "127,-64")
    assert(math.abs(maxErr - 0.001969) < 1e-6) // |-0.25 - (-64*0.5/127)|
    assert(drift > 0.9999 && drift <= 1.0)
    val (_, s0, q0, e0, d0) = out(2L)
    assert(s0 == 0.0 && q0 == "0,0" && e0 == 0.0 && d0 == 1.0) // zero vector guarded
  }

  test("quantTopK: quantized-store search nearly reproduces the exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 8")
    val brute = Ann.bruteTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val quant = Ann.quantTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val overlap = (brute intersect quant).size.toDouble / brute.size
    assert(overlap >= 0.9, s"int8 quantization degraded top-k overlap to $overlap")
  }

  test("quantize: codes bounded by ±127, drift near 1 on the fixture") {
    val out = Ann.quantize(Tables.embeddings(spark, sf))
    import org.apache.spark.sql.functions._
    val bad = out.where(
      exists(transform(split(col("qvec"), ","), x => x.cast("int")),
        q => abs(q) > 127) || col("cos_drift") < 0.98)
    assert(bad.count() == 0L)
  }

  test("ivf store: append maintains the index without touching existing files") {
    val path = "/root/repo/target/test_tmp/ivf_store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val emb = Tables.embeddings(spark, sf)
    Ann.writeIvfStore(emb.where("vec_id % 3 != 2"), path)
    def files() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = files()
    Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
    val after = files()
    // pure insert: every pre-append file survives byte-identical in place
    // (the delta lands in a NEW generation directory; only the manifest
    // pointer moved)
    assert(before.forall { case (f, m) => after.get(f).contains(m) })
    assert(after.size > before.size)
    // the store now holds the whole corpus exactly once
    assert(Ann.readIvfStore(spark, path).count() == emb.count())
    // a partitioned store that is not a vector store has no quantizers
    // to route through: the append fails loudly instead of guessing
    val plain = new java.io.File("target/test_tmp/ivf_store_plain").getAbsolutePath
    graft.io.IO.writePartitionedStore(emb.select(col("vec_id").as("nn_id")), plain,
      Seq("nn_id"), nBuckets = 4)
    val e = intercept[IllegalArgumentException](
      Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), plain))
    assert(e.getMessage.contains("not a graft vector store"))
  }

  test("ivf store: null embeddings are never persisted (count == servable)") {
    val path = "/root/repo/target/test_tmp/ivf_store_nulls"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val emb = Tables.embeddings(spark, sf).limit(60)
    val withNulls = emb.withColumn("embedding",
      when(col("vec_id") % 10 === 0, lit(null)).otherwise(col("embedding")))
    Ann.writeIvfStore(withNulls.where("vec_id % 3 != 2"), path)
    Ann.appendVectorStore(withNulls.where("vec_id % 3 = 2"), path)
    val store = Ann.readIvfStore(spark, path)
    val expected = withNulls.where("embedding IS NOT NULL").count()
    // store count equals its servable contents: no default-Hive-partition
    // rows a cell equi-join can never reach
    assert(store.count() == expected)
    assert(store.where("cell IS NULL OR cv IS NULL").count() == 0L)
  }

  test("ivf store: append-maintained index serves exactly the batch-built results") {
    val path = "/root/repo/target/test_tmp/ivf_store2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val emb = Tables.embeddings(spark, sf)
    Ann.writeIvfStore(emb.where("vec_id % 3 != 2"), path)
    Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
    val queries = emb.where("vec_id < 8")
    val fromStore = Ann.ivfStoreTopK(spark, path, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    val cents = Ann.readCentroids(spark, path)
    val batch = Ann.ivfTopKFromAssigned(Ann.assignCells(emb, cents), cents,
        queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(fromStore == batch)
    assert(fromStore.nonEmpty)
  }

  test("pq: codebook shape and encoded codes bounded per subspace") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Ann.fitPqCodebooks(emb, m = 8, ksub = 32)
    assert(cb.count() == 8L * 32L)
    val centLens = cb.select(size(col("centroid"))).distinct()
      .as[Int].collect().toSet
    assert(centLens == Set(8)) // 64-dim fixture / 8 subspaces
    val enc = Ann.pqEncode(emb, cb)
    val bad = enc.where(size(col("codes")) =!= 8 ||
      exists(col("codes"), c => c < 0 || c >= 32))
    assert(bad.count() == 0L)
    assert(enc.count() == emb.where("embedding IS NOT NULL").count())
  }

  test("pq: null embeddings are dropped at encode (never servable)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cb = Ann.fitPqCodebooks(df, m = 2, ksub = 2)
    val ids = Ann.pqEncode(df, cb).select("nn_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L))
  }

  test("zero-norm vectors are excluded from every cosine-space op " +
       "(NaN would rank first under Spark's NaN-is-greatest ordering)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector: no direction
      (4L, null.asInstanceOf[Array[Float]]),
      (5L, Array(0.8f, 0.2f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = df.where("vec_id = 1")
    // brute: without the cosineUsable guard the zero vector's 0/0 = NaN
    // cosine sorts ABOVE every real neighbor and takes rank 1
    val brute = Ann.bruteTopK(df, q, k = 10)
      .select("nn_id").as[Long].collect().toSet
    assert(brute == Set(2L, 5L))
    // range search: NaN >= threshold is TRUE in Spark — the guard is the
    // only thing keeping the zero vector out of the radius
    val rng = Ann.rangeSearch(df, q, minCosine = 0.5)
      .select("nn_id").as[Long].collect().toSet
    assert(rng == Set(2L, 5L))
    // a zero-vector QUERY has no answers at all (not a NaN-scored list)
    assert(Ann.bruteTopK(df, df.where("vec_id = 3"), k = 10).count() == 0L)
    // IVF serve: the store drops the zero vector at write; batch
    // assignment serves identically because the serve side re-applies
    // the same guard
    val cents = Ann.fitCentroids(df.where("vec_id IN (1, 2, 5)"), nCells = 2)
    val served = Ann.ivfTopKFromAssigned(
      Ann.assignCells(df, cents), cents, q, k = 10, nProbe = 2)
      .select("nn_id").as[Long].collect().toSet
    assert(served == Set(2L, 5L))
  }

  test("NaN-component vectors are excluded from every cosine-space op " +
       "(NaN is non-null and NaN =!= 0 is true — the guard's third door)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(Float.NaN, 1.0f, 0.0f, 0.0f)), // NaN component
      (5L, Array(0.8f, 0.2f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = df.where("vec_id = 1")
    // without the NaN conjunct the NaN cosine ranks FIRST (NaN-is-greatest)
    val brute = Ann.bruteTopK(df, q, k = 10)
      .select("nn_id").as[Long].collect().toSet
    assert(brute == Set(2L, 5L))
    val rng = Ann.rangeSearch(df, q, minCosine = 0.5)
      .select("nn_id").as[Long].collect().toSet
    assert(rng == Set(2L, 5L))
    // a NaN-bearing QUERY has no answers at all
    assert(Ann.bruteTopK(df, df.where("vec_id = 3"), k = 10).count() == 0L)
    // IVF store build drops the NaN row like the null/zero rows
    val store = "/root/repo/target/qtmp/annspec_nan_store"
    graft.io.IO.deletePath(store)
    Ann.writeIvfStore(df, store, nCells = 2)
    assert(Ann.ivfStoreTopK(spark, store, q, k = 10)
      .select("nn_id").as[Long].collect().toSet == Set(2L, 5L))
  }

  test("NULL-component vectors are excluded two-valuedly (a bare isnan " +
       "conjunct would return NULL and let engine and oracle diverge)") {
    val df = Seq(
      (1L, Array[java.lang.Float](1.0f, 0.0f, 0.0f)),
      (2L, Array[java.lang.Float](0.9f, 0.1f, 0.0f)),
      (3L, Array[java.lang.Float](0.7f, null, 0.0f)), // NULL component, no NaN
      (5L, Array[java.lang.Float](0.8f, 0.2f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = df.where("vec_id = 1")
    // the NULL-component vector's dot product is NULL — it can never be
    // a neighbor, and the guard must evaluate FALSE (not NULL) for it
    assert(Ann.bruteTopK(df, q, k = 10)
      .select("nn_id").as[Long].collect().toSet == Set(2L, 5L))
    // ... and the guard itself is two-valued over this row
    val guarded = df.select(col("vec_id"),
      Ann.cosineUsable(col("embedding")).as("ok"))
    assert(guarded.where(col("ok").isNull).count() == 0L,
      "cosineUsable returned NULL — three-valued logic leaked")
    assert(guarded.where(col("ok")).select("vec_id")
      .as[Long].collect().toSet == Set(1L, 2L, 5L))
  }

  test("rrfFuse: a doc duplicated WITHIN one list counts once, best rank " +
       "wins, and n_lists stays per-list") {
    val lex = Seq((10L, 1), (20L, 2), (20L, 5), (30L, 3)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = Ann.rrfFuse(Seq(lex, sem))
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 20: lex contributes its BEST rank (2) once, sem rank 1 — n_lists 2
    assert(out(20L) == ((2, r6(1.0 / 62 + 1.0 / 61))))
    assert(out(10L) == ((1, r6(1.0 / 61))))
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion of two lists") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = Ann.rrfFuse(Seq(lex, sem))
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 20 appears in both lists (ranks 2 and 1); the rest in one
    assert(out(20L) == ((2, r6(1.0 / 62 + 1.0 / 61))))
    assert(out(10L) == ((1, r6(1.0 / 61))))
    assert(out(30L) == ((1, r6(1.0 / 63))))
    assert(out(40L) == ((1, r6(1.0 / 62))))
    assert(out.size == 4)
    // the overlap doc outranks every single-list doc — the fusion property
    assert(out(20L)._2 > out.filterKeys(_ != 20L).values.map(_._2).max)
  }

  test("rrfFuseBatch: each query's fused rows equal its own single-query " +
       "rrfFuse (per-list dedup included); queries never cross-talk") {
    val lexB = Seq((0L, 10L, 1), (0L, 20L, 2), (0L, 20L, 5),
      (1L, 10L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    val semB = Seq((0L, 20L, 1), (0L, 40L, 2),
      (1L, 30L, 1)).toDF("query_id", "doc_id", "rank")
    val batch = Ann.rrfFuseBatch(Seq(lexB, semB))
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3, r._4)).toSet).toMap
    Seq(0L, 1L).foreach { q =>
      val single = Ann.rrfFuse(Seq(
          lexB.where($"query_id" === q).select("doc_id", "rank"),
          semB.where($"query_id" === q).select("doc_id", "rank")))
        .as[(Long, Int, Double)].collect().toSet
      assert(batch(q) == single,
        s"query $q: batch=${batch(q)} single=$single")
    }
    // doc 10 ranks 1 in BOTH queries' lex lists — per-query grouping must
    // keep them apart (a cross-talking fuse would report n_lists = 2)
    assert(batch(0L).exists(r => r._1 == 10L && r._2 == 1))
    assert(batch(1L).exists(r => r._1 == 10L && r._2 == 1))
  }

  test("pqTopK recall vs brute; a larger refine shortlist improves recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 5")
    val brute = Ann.bruteTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val cb = Ann.fitPqCodebooks(emb) // shared fit: the recall delta is ADC-only
    def recallAt(refine: Int): Double = {
      val pq = Ann.pqTopK(emb, queries, k = 10, refine = refine,
          codebooks = Some(cb))
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      brute.intersect(pq).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r8 >= r2, s"larger shortlist must not lose recall: $r2 -> $r8")
    assert(r8 >= 0.5, s"PQ recall at refine=8 too low: $r8")
  }

  test("pqTopK: planted clusters are served exactly (quantization noise ≪ structure)") {
    // two tight orthogonal clusters — on genuinely clustered data the ADC
    // ordering matches the exact ordering and PQ search is lossless
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val out = Ann.pqTopK(df, df.where("vec_id = 0"), k = 5, m = 2, ksub = 4,
      refine = 2)
    val nn = out.select("nn_id").as[Long].collect().toSet
    assert(nn == Set(1L, 2L, 3L, 4L, 5L), s"cross-cluster leak: $nn") // own cluster only
    // re-ranked scores are exact: recompute independently
    val brute = Ann.bruteTopK(df, df.where("vec_id = 0"), k = 5)
      .select("nn_id", "cosine").as[(Long, Double)].collect().toMap
    val pqScores = out.select("nn_id", "cosine").as[(Long, Double)].collect().toMap
    assert(pqScores == brute)
  }

  test("pqTopK: ADC shortlist ranks ids only (vectors re-attach after)") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Ann.fitPqCodebooks(emb)
    val plan = Ann.pqTopK(emb, emb.where("vec_id < 3"), k = 5,
        codebooks = Some(cb))
      .queryExecution.optimizedPlan
    // the shortlist window (ordered by adc) must not carry corpus vectors —
    // full-precision floats join back to the refine·k survivors only
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val adcWindow = windows.find(_.output.map(_.name).contains("crk"))
    assert(adcWindow.isDefined, "ADC shortlist window missing")
    assert(!adcWindow.get.output.map(_.name).exists(n => n == "cv" || n == "qv"),
      s"ADC window still carries vectors: ${adcWindow.get.output.map(_.name)}")
  }

  test("ivfpq store: codes-only at rest, append-maintained equals one-shot " +
       "build under the same quantizers, serve reads only probed + " +
       "reserved buckets, versions time-travel") {
    val path = "/root/repo/target/test_tmp/ivfpq_store"
    val path2 = "/root/repo/target/test_tmp/ivfpq_store_oneshot"
    Seq(path, path2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val emb = Tables.embeddings(spark, sf)
    // lifecycle: build on 2/3 (quantizers fit there), O(delta) append of
    // the rest through the STORED centroids + codebooks
    Ann.writeIvfPqStore(emb.where("vec_id % 3 != 2"), path, nCells = 16,
      m = 4, ksub = 8)
    Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
    // completeness: one code row per servable vector, and NO corpus float
    // persists in a cell bucket (codes-only at rest is the point)
    val servable = emb.where(Ann.cosineUsable(col("embedding"))).count()
    assert(Ann.readIvfPqStore(spark, path).count() == servable)
    val rawCells = graft.io.IO.readStoreBuckets(spark, path, (0 until 16).toSet)
    assert(rawCells.where(col("cv").isNotNull).count() == 0L,
      "a cell bucket persisted full-precision vectors")
    // append-maintained == one-shot batch build under the SAME quantizers:
    // identical codes, identical serve
    Ann.writeIvfPqStore(emb, path2, nCells = 16, m = 4, ksub = 8,
      centroids = Some(Ann.readIvfPqCentroids(spark, path)),
      codebooks = Some(Ann.readIvfPqCodebooks(spark, path)))
    val queries = emb.where("vec_id < 4")
    val served = Ann.ivfPqStoreTopK(spark, path, queries, k = 5,
      refineFrom = Some(emb))
    val oneShot = Ann.ivfPqStoreTopK(spark, path2, queries, k = 5,
        refineFrom = Some(emb))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served.as[(Long, Long, Double, Int)].collect().toSet == oneShot)
    assert(oneShot.nonEmpty)
    // refined scores are exact cosines: recompute independently per pair
    val asD = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))
    val exact = served
      .join(emb.select(col("vec_id").as("nn_id"), col("embedding").as("ev")), "nn_id")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .where(col("cosine") =!= round(Ann.cosine(asD(col("ev")), asD(col("qv"))), 4))
    assert(exact.count() == 0L, "refined cosine drifted from the exact recompute")
    // pruned read: the serve SCAN touches at most nProbe cells per query
    // and no reserved bucket (the quantizers load once through a bounded
    // driver-side collect, not the per-batch scan plan)
    val buckets = served.inputFiles
      .flatMap("__graft_bucket=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).toSet
    assert(buckets.nonEmpty && buckets.intersect(Set(16, 17)).isEmpty,
      s"reserved quantizer buckets leaked into the serve scan: $buckets")
    assert(buckets.size <= 4 * 4,
      s"serve read ${buckets.size} buckets — pruning lost: $buckets")
    // ADC-only serve (no flat tier): valid contiguous ranks, ascending adc
    val adcOnly = Ann.ivfPqStoreTopK(spark, path, queries, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(adcOnly.nonEmpty)
    adcOnly.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rs.length))
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sorted.toSeq)
    }
    // the pre-append version stays readable: exactly the build corpus'
    // servable rows plus the two quantizer buckets' rows at v1
    val v1 = graft.io.IO.storeVersions(spark, path).head
    val buildServable = emb.where("vec_id % 3 != 2")
      .where(Ann.cosineUsable(col("embedding"))).count()
    val v1Rows = graft.io.IO.readPartitionedStoreAt(spark, path, v1)
      .where(col("nn_id") >= 0).count()
    assert(v1Rows == buildServable)
  }

  test("ivfpq store: planted clusters served exactly through the persisted " +
       "codes (ADC shortlist + flat refine reproduces brute)") {
    val path = "/root/repo/target/test_tmp/ivfpq_planted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    Ann.writeIvfPqStore(df, path, nCells = 2, m = 2, ksub = 4)
    val out = Ann.ivfPqStoreTopK(spark, path, df.where("vec_id = 0"), k = 5,
      nProbe = 1, refine = 2, refineFrom = Some(df))
    val nn = out.select("nn_id").as[Long].collect().toSet
    assert(nn == Set(1L, 2L, 3L, 4L, 5L), s"cross-cluster leak: $nn")
    val brute = Ann.bruteTopK(df, df.where("vec_id = 0"), k = 5)
      .select("nn_id", "cosine").as[(Long, Double)].collect().toMap
    val got = out.select("nn_id", "cosine").as[(Long, Double)].collect().toMap
    assert(got == brute)
  }

  test("ivfpq store: residual encoding strictly beats a raw global-codebook " +
       "encode on ADC-shortlist recall at the same code budget") {
    val path = "/root/repo/target/test_tmp/ivfpq_residual"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    // 4 clusters whose projections are far apart in BOTH subspaces
    // (m=2, dsub=2), 6 members each with a SHARED graded offset pattern
    // 0.5j·(1,1,1,1). A raw global codebook at ksub=4 must spend its 4
    // codewords per subspace on the 4 cluster locations (any other
    // arrangement has vastly higher quantization cost), so every member
    // of one cluster encodes identically and within-cell ADC collapses
    // to the nn_id tie-break. Residual codewords see only the graded
    // offsets (identical across cells after re-centering) and resolve
    // them. Ids are assigned in REVERSE of the true cosine order inside
    // each cluster, so a tie-broken ranking is measurably wrong instead
    // of accidentally right.
    val centers = Seq(
      Array(40f, 0f, 40f, 0f), Array(0f, 40f, 0f, 40f),
      Array(-40f, 0f, -40f, 0f), Array(0f, -40f, 0f, -40f))
    val df = (for {
      i <- 0 until 4
      j <- 0 until 6
    } yield {
      val v = centers(i).map(identity)
      val off = 0.5f * j
      (i * 10L + (5 - j), v.map(_ + off))
    }).toDF("vec_id", "embedding")
    Ann.writeIvfPqStore(df, path, nCells = 4, m = 2, ksub = 4)
    // query = cluster-0 member j=0 (id 5); true top-3 = j=1,2,3 = ids 4,3,2
    val query = df.where("vec_id = 5")
    val bruteSet = Ann.bruteTopK(df, query, k = 3)
      .select("nn_id").as[Long].collect().toSet
    // residual ADC shortlist (refine tier deliberately OFF — this measures
    // the shortlist the refine factor would see)
    val resid = Ann.ivfPqStoreTopK(spark, path, query, k = 3, nProbe = 1)
      .select("nn_id").as[Long].collect().toSet
    val residRecall = resid.intersect(bruteSet).size / 3.0
    // raw global-codebook ADC over the same cell's candidates, computed
    // from the public raw-PQ surface (fitPqCodebooks + pqEncode are the
    // pre-residual layout): LUT from the query vector, summed lookups,
    // (adc asc, id asc) ranking — exactly the store's serve rule
    val rawCb = Ann.fitPqCodebooks(df, m = 2, ksub = 4)
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
    val rawCodes = Ann.pqEncode(df, Ann.fitPqCodebooks(df, m = 2, ksub = 4))
      .as[(Long, Seq[Int])].collect().toMap
    val qv = df.where("vec_id = 5").select("embedding")
      .as[Array[Float]].head().map(_.toDouble)
    val lut = rawCb.zipWithIndex.map { case (sub, j) =>
      sub.map { cw =>
        var d = 0.0; var i = 0
        while (i < cw.length) { val x = qv(j * cw.length + i) - cw(i); d += x * x; i += 1 }
        d
      }
    }
    val cellIds = (0L to 4L) // cluster-0 members, query excluded
    val rawTop = cellIds.map { id =>
      val cs = rawCodes(id)
      (cs.zipWithIndex.map { case (c, j) => lut(j)(c) }.sum, id)
    }.sortBy(identity).take(3).map(_._2).toSet
    val rawRecall = rawTop.intersect(bruteSet).size / 3.0
    assert(residRecall > rawRecall,
      s"residual ADC recall $residRecall not above raw $rawRecall " +
        s"(brute=$bruteSet resid=$resid raw=$rawTop)")
    assert(residRecall == 1.0, s"residual shortlist missed: $resid vs $bruteSet")
  }

  test("clusterReport: planted clusters are recovered with high coherence") {
    // two tight orthogonal clusters; nulls excluded from assignment
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vecs = (0 until 12).map { i =>
      val ctr = if (i < 6) c1 else c2
      (i.toLong, mk(ctr, 0.01f * (i % 4)), 0)
    } :+ ((99L, null.asInstanceOf[Array[Float]], 0))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val rep = Ann.clusterReport(df, nCells = 2)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rep.map(_._2).sum == 12L)           // every non-null vector assigned
    assert(rep.map(_._2).toSet == Set(6L))     // the two planted clusters
    // members hug their centroid — far above the 1/√2 ≈ 0.707 cosine a
    // degenerate single global-mean cell would report for orthogonal
    // clusters (the clustering-gain property)
    assert(rep.forall(_._3 >= 0.99), s"low coherence: ${rep.toSeq}")
  }

  test("deleteFromVectorStore: rows gone from both layouts, serve excludes " +
       "them, an emptied cell drops cleanly, pre-delete version time-travels") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val path = "/root/repo/target/test_tmp/annspec_delete"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(df, path, nCells = 2)
    val preV = graft.io.IO.storeVersions(spark, path).last
    // delete ALL of cluster 2 — its cell must empty and drop out
    Ann.deleteFromVectorStore(spark, path,
      df.where("vec_id >= 6").select("vec_id"))
    val left = Ann.readIvfStore(spark, path).select("nn_id").as[Long].collect()
    assert(left.sorted.toSeq == (0L to 5L), s"wrong survivors: ${left.toSeq}")
    // serve probing BOTH cells (one now absent) returns only survivors
    val served = Ann.ivfStoreTopK(spark, path, df.where("vec_id = 0"),
      k = 8, nProbe = 2).select("nn_id").as[Long].collect().toSet
    assert(served == Set(1L, 2L, 3L, 4L, 5L), s"deleted id served: $served")
    // time travel: the pre-delete version still reads complete
    val preRows = graft.io.IO.readPartitionedStoreAt(spark, path, preV)
      .where(col("nn_id") >= 0).count()
    assert(preRows == 12L, s"pre-delete version incomplete: $preRows")
    // same surface on the codes-at-rest layout
    val pqPath = "/root/repo/target/test_tmp/annspec_delete_pq"
    graft.io.IO.deletePath(pqPath)
    Ann.writeIvfPqStore(df, pqPath, nCells = 2, m = 2, ksub = 4)
    Ann.deleteFromVectorStore(spark, pqPath, Seq(1L, 7L).toDF("vec_id"))
    assert(Ann.readIvfPqStore(spark, pqPath).count() == 10L)
    val pqServed = Ann.ivfPqStoreTopK(spark, pqPath, df.where("vec_id = 0"),
      k = 8, nProbe = 2, refineFrom = Some(df))
      .select("nn_id").as[Long].collect().toSet
    assert(!pqServed.contains(1L) && !pqServed.contains(7L),
      s"deleted id served from PQ store: $pqServed")
  }

  test("upsertVectorStore: re-embeds replace atomically in ONE commit, " +
       "cross-cell moves land in the new cell, unusable re-embeds remove, " +
       "novel ids insert — on both layouts") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val base = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = "/root/repo/target/test_tmp/annspec_upsert"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(df, path, nCells = 2)
    // the re-embed delta: id 1 MOVES clusters (c1 → c2: must change
    // cell), id 7 stays in-cluster with a new value, id 2 re-embeds to
    // garbage (NaN: must be REMOVED, not served), id 100 is novel
    // eps values chosen so the re-embedded rows rank STRICTLY inside the
    // PQ serve's top-5 below — 0.025 beats the largest original in-cell
    // eps (0.03) without relying on a 4dp rounding tie broken by id
    val moved = mk(c2, 0.02f)
    val tweaked = mk(c2, 0.025f)
    val delta = Seq(
      (1L, moved), (7L, tweaked),
      (2L, Array(Float.NaN, 0f, 0f, 0f)),
      (100L, mk(c1, 0.02f))).toDF("vec_id", "embedding")
    Ann.upsertVectorStore(delta, path)
    // exactly ONE new manifest version — the atomicity witness
    assert(graft.io.IO.storeVersions(spark, path) == Seq(1, 2))
    // content == batch assignment of the UPDATED corpus under the
    // stored centroids (id 2 gone, 1/7 replaced, 100 added)
    val updated = (base.filterNot(r => Set(1L, 2L, 7L)(r._1)) ++
      Seq((1L, moved), (7L, tweaked), (100L, mk(c1, 0.02f))))
      .toDF("vec_id", "embedding")
    val expect = Ann.assignCells(updated, Ann.readCentroids(spark, path))
      .select("nn_id", "cell")
    val got = Ann.readIvfStore(spark, path).select("nn_id", "cell")
    val diff = got.unionByName(expect).groupBy("nn_id", "cell")
      .agg(count(lit(1)).as("n")).where($"n" =!= 2).count()
    assert(diff == 0L, "upserted store diverged from the updated-corpus assignment")
    // same surface on the codes-at-rest layout: the moved id's codes
    // re-encode in the NEW cell and serve reflects the replacement
    val pqPath = "/root/repo/target/test_tmp/annspec_upsert_pq"
    graft.io.IO.deletePath(pqPath)
    Ann.writeIvfPqStore(df, pqPath, nCells = 2, m = 2, ksub = 4)
    Ann.upsertVectorStore(delta, pqPath)
    val pqRows = Ann.readIvfPqStore(spark, pqPath)
    assert(pqRows.count() == updated.count())
    assert(pqRows.where($"nn_id" === 2L).count() == 0L, "garbage re-embed survived")
    val served = Ann.ivfPqStoreTopK(spark, pqPath,
      updated.where("vec_id = 8"), k = 5, nProbe = 1, refineFrom = Some(updated))
      .select("nn_id").as[Long].collect().toSet
    // query 8 lives in cluster 2 — the MOVED id 1 and tweaked id 7 now
    // belong there and must be servable neighbors
    assert(served.contains(1L) && served.contains(7L),
      s"re-embedded ids not served from their new cell: $served")
  }

  test("filtered serve: the true top-k OF THE ALLOWED SUBSET — returns k " +
       "allowed rows even when every global winner is disallowed") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val path = "/root/repo/target/test_tmp/annspec_filtered"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(df, path, nCells = 2)
    val query = df.where("vec_id = 0") // cluster-1 member: global top-k all in cluster 1
    // allowed = ONLY cluster 2 — a post-filtered global top-k would return nothing
    val allowed = df.where("vec_id >= 6").select("vec_id")
    val served = Ann.ivfStoreTopK(spark, path, query, k = 3, nProbe = 2,
      allowedIds = Some(allowed))
      .select("nn_id", "cosine", "rank").as[(Long, Double, Int)].collect()
    assert(served.length == 3, s"filtered serve under-returned: ${served.toSeq}")
    assert(served.forall(_._1 >= 6L), s"disallowed id served: ${served.toSeq}")
    // and it equals the exact filtered brute (nProbe covers all cells here)
    val brute = Ann.bruteTopK(df.where("vec_id >= 6"), query, k = 3)
      .select("nn_id", "cosine", "rank").as[(Long, Double, Int)].collect()
    assert(served.toSet == brute.toSet,
      s"filtered serve diverged from filtered brute: ${served.toSeq} vs ${brute.toSeq}")
    // PQ tier: same filter semantics through the ADC shortlist + refine
    val pqPath = "/root/repo/target/test_tmp/annspec_filtered_pq"
    graft.io.IO.deletePath(pqPath)
    Ann.writeIvfPqStore(df, pqPath, nCells = 2, m = 2, ksub = 4)
    val pqServed = Ann.ivfPqStoreTopK(spark, pqPath, query, k = 3, nProbe = 2,
      refineFrom = Some(df), allowedIds = Some(allowed))
      .select("nn_id").as[Long].collect()
    assert(pqServed.length == 3 && pqServed.forall(_ >= 6L),
      s"PQ filtered serve wrong: ${pqServed.toSeq}")
  }

  test("staleness report: fresh build reports zero appended and no drift; " +
       "a far-distribution append trips the flag; PQ accounting matches") {
    val path = "/root/repo/target/test_tmp/annspec_stale"
    graft.io.IO.deletePath(path)
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    Ann.writeIvfStore(df, path, nCells = 2)
    val fresh = Ann.vectorStoreStaleness(spark, path)
      .select("cell", "n_build", "n_now", "appended_frac", "drift_ratio", "drifted")
      .as[(Int, Long, Long, Double, Double, Boolean)].collect()
    assert(fresh.nonEmpty)
    fresh.foreach { case (_, nb, nn, frac, ratio, drifted) =>
      assert(nb == nn && frac == 0.0, s"fresh build claims appends: $fresh")
      assert(ratio == 1.0 && !drifted, s"fresh build claims drift: $fresh")
    }
    // heavy REAL drift: append vectors far outside the build distribution
    // (routed through the stored centroids like any delta) — the touched
    // cell's median distance explodes and the flag must trip. The far
    // vectors lean unambiguously toward cluster 1's centroid (strictly
    // nearer it by a wide margin, no floating-point tie-break deciding
    // the routing), so cluster 2's cell receives NO appends — which the
    // delete stage below relies on to empty it deterministically.
    val far = (100 until 108).map { i =>
      (i.toLong, Array(9f, 0.5f, 0.1f, 0.5f).map(_ * (1 + (i % 3))))
    }.toDF("vec_id", "embedding")
    Ann.appendVectorStore(far, path)
    val drifted = Ann.vectorStoreStaleness(spark, path)
      .where(col("drifted") && col("n_build") > 0)
    assert(drifted.count() > 0, "a far-distribution append tripped no drift flag")
    assert(Ann.vectorStoreStaleness(spark, path)
      .agg(max("appended_frac")).as[Double].head() > 0.3)
    // DELETE interaction: shrinking or emptying a build cell must keep
    // the accounting honest — the emptied cell stays IN the report with
    // n_now = 0 (never silently dropped), a shrunk cell clamps
    // appended_frac at 0 (growth, not negative), nothing reports a
    // garbage drift magnitude, and an emptied cell is not "drifted"
    // (nothing serves from it)
    Ann.deleteFromVectorStore(spark, path,
      df.where("vec_id >= 6 and vec_id < 12").select("vec_id")) // all of cluster 2
    Ann.deleteFromVectorStore(spark, path,
      (100L until 104L).toDF("vec_id")) // half the far append
    val postDelete = Ann.vectorStoreStaleness(spark, path)
      .select("cell", "n_build", "n_now", "appended_frac", "drift_ratio", "drifted")
      .as[(Int, Long, Long, Option[Double], Option[Double], Boolean)].collect()
    assert(postDelete.map(_._2).sum == 12L,
      s"a build cell vanished from the report: ${postDelete.toSeq}")
    val emptied = postDelete.filter(_._3 == 0L)
    assert(emptied.nonEmpty, "the emptied cell should still report")
    emptied.foreach { r =>
      assert(r._4.isEmpty && r._5.isEmpty && !r._6,
        s"emptied cell reports growth/drift: $r")
    }
    assert(postDelete.forall(_._4.forall(f => f >= 0.0 && f <= 1.0)),
      s"appended_frac left [0,1]: ${postDelete.toSeq}")
    // IVF-PQ variant: lifecycle row accounting from the codes-at-rest
    // tier (2/3 build + 1/3 append of the fixture corpus); the
    // in-distribution append must not trip the drift flag
    val emb = Tables.embeddings(spark, sf)
    val pqPath = "/root/repo/target/test_tmp/annspec_stale_pq"
    graft.io.IO.deletePath(pqPath)
    Ann.writeIvfPqStore(emb.where("vec_id % 3 != 2"), pqPath, nCells = 16,
      m = 4, ksub = 8)
    Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), pqPath)
    val usable = emb.where(Ann.cosineUsable(col("embedding")))
    val pqSums = Ann.vectorStoreStaleness(spark, pqPath)
      .agg(sum("n_build"), sum("n_now"),
        sum(when(col("drifted") && col("n_build") > 0, 1).otherwise(0)))
      .as[(Long, Long, Long)].head()
    assert(pqSums._1 == usable.where("vec_id % 3 != 2").count())
    assert(pqSums._2 == usable.count())
    assert(pqSums._3 == 0L,
      s"in-distribution PQ append tripped ${pqSums._3} drift flags")
  }

  test("compactIvfStore: rewrites only fragmented cells; content and serve unchanged") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_compact"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb.where($"vec_id" % 3 =!= 2), path)
    Ann.appendVectorStore(emb.where($"vec_id" % 3 === 2), path)
    val queries = emb.where("vec_id < 4")
    val before = Ann.ivfStoreTopK(spark, path, queries, k = 5).localCheckpoint()
    val nBefore = Ann.readIvfStore(spark, path).count()
    val stats = Ann.compactIvfStore(spark, path)
      .as[(Int, Int, Int)].collect()
    assert(stats.nonEmpty, "append fragmented no cell? expected rewrites")
    assert(stats.forall { case (_, b, a) => a == 1 && b > 1 },
      s"expected 1 file per rewritten cell: ${stats.toSeq}")
    assert(Ann.readIvfStore(spark, path).count() == nBefore, "compaction changed row count")
    val after = Ann.ivfStoreTopK(spark, path, queries, k = 5)
    val delta = before.unionByName(after)
      .groupBy("query_id", "nn_id", "cosine", "rank")
      .agg(count(lit(1)).as("n")).where($"n" =!= 2).count()
    assert(delta == 0L, "serve changed across compaction")
    // idempotent: a second pass finds nothing fragmented
    assert(Ann.compactIvfStore(spark, path).count() == 0L)
    graft.io.IO.deletePath(path)
  }

  test("staleness after vacuum: the report fails loudly instead of " +
       "silently declaring a drifted store fresh") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/test_tmp/annspec_stale_vacuum"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb.where($"vec_id" % 3 =!= 2), path)
    Ann.appendVectorStore(emb.where($"vec_id" % 3 === 2), path)
    // vacuum with zero orphan grace trims manifests to the current
    // version — the v1 build baseline is gone, so a report would
    // compare current against current and read 'fresh' for ANY store
    graft.io.IO.vacuumPartitionedStore(spark, path, orphanGraceMs = 0L)
    assert(graft.io.IO.storeVersions(spark, path).headOption.exists(_ > 1),
      "vacuum should have trimmed v1 — test precondition")
    val e = intercept[IllegalArgumentException] {
      Ann.vectorStoreStaleness(spark, path).collect()
    }
    assert(e.getMessage.contains("staleness baseline"), e.getMessage)
    // the store itself stays fully servable — only the report refuses
    assert(Ann.readIvfStore(spark, path).count() ==
      emb.where(Ann.cosineUsable(col("embedding"))).count())
  }

  test("compactIvfStore: IVF-PQ layout — fragmented code cells collapse, " +
       "codes and serve unchanged, quantizer buckets never touched") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_compact_pq"
    graft.io.IO.deletePath(path)
    Ann.writeIvfPqStore(emb.where($"vec_id" % 3 =!= 2), path, nCells = 16,
      m = 4, ksub = 8)
    Ann.appendVectorStore(emb.where($"vec_id" % 3 === 2), path)
    assert(Ann.ivfStoreFragmented(spark, path),
      "build + append should leave fragmented code cells")
    val queries = emb.where("vec_id < 4")
    val before = Ann.ivfPqStoreTopK(spark, path, queries, k = 5,
      refineFrom = Some(emb)).localCheckpoint()
    val nBefore = Ann.readIvfPqStore(spark, path).count()
    val stats = Ann.compactIvfStore(spark, path).as[(Int, Int, Int)].collect()
    assert(stats.nonEmpty, "append fragmented no code cell? expected rewrites")
    // the 2 reserved quantizer buckets (16, 17) must never be rewritten
    assert(stats.forall(_._1 < 16), s"quantizer bucket rewritten: ${stats.toSeq}")
    assert(!Ann.ivfStoreFragmented(spark, path))
    assert(Ann.readIvfPqStore(spark, path).count() == nBefore,
      "compaction changed code-row count")
    val after = Ann.ivfPqStoreTopK(spark, path, queries, k = 5,
      refineFrom = Some(emb))
    val delta = before.unionByName(after)
      .groupBy("query_id", "nn_id", "cosine", "rank")
      .agg(count(lit(1)).as("n")).where($"n" =!= 2).count()
    assert(delta == 0L, "serve changed across compaction")
    graft.io.IO.deletePath(path)
  }

  test("ivf store: compaction commits through the OCC manifest — a racing " +
       "append serializes and neither commit is lost") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_occ"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb.where($"vec_id" % 3 =!= 2), path)          // v1
    Ann.appendVectorStore(emb.where($"vec_id" % 3 === 2), path)         // v2
    // a delta of NEW ids, routed through the stored centroids
    val delta = emb.where("vec_id < 30")
      .withColumn("vec_id", $"vec_id" + 100000L).localCheckpoint()
    val nDelta = delta.where(Ann.cosineUsable($"embedding")).count()
    // race the compaction (rewrites every fragmented cell) against an
    // append (adds a generation to the delta's cells): both go through
    // claimVersion, so they serialize — the loser recomputes/retries
    // against the winner's manifest and BOTH rows-sets land
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCompact = Future(Ann.compactIvfStore(spark, path).count())
    val fAppend = Future(Ann.appendVectorStore(delta, path))
    Await.result(fCompact, Duration.Inf)
    Await.result(fAppend, Duration.Inf)
    assert(Ann.readIvfStore(spark, path).count() == emb.count() + nDelta,
      "a racing commit was lost")
    // serve over the post-race store equals a batch assignment of the
    // same rows — content integrity, not just counts
    val queries = emb.where("vec_id < 4")
    val cents = Ann.readCentroids(spark, path)
    val full = emb.unionByName(delta)
    val fromStore = Ann.ivfStoreTopK(spark, path, queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = Ann.ivfTopKFromAssigned(Ann.assignCells(full, cents), cents,
        queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(fromStore == batch && fromStore.nonEmpty)
    graft.io.IO.deletePath(path)
  }

  test("ivf store: pre-compaction versions stay time-travel-readable " +
       "(manifest-pointer commits never touch live files)") {
    val emb = Tables.embeddings(spark, sf).limit(120)
    val path = "/root/repo/target/qtmp/annspec_timetravel"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb.where($"vec_id" % 3 =!= 2), path)          // v1
    Ann.appendVectorStore(emb.where($"vec_id" % 3 === 2), path)         // v2
    assert(Ann.compactIvfStore(spark, path).count() > 0)             // v3
    val versions = graft.io.IO.storeVersions(spark, path)
    assert(versions == Seq(1, 2, 3), s"unexpected versions: $versions")
    def dataRows(v: Int): Set[Long] =
      graft.io.IO.readPartitionedStoreAt(spark, path, v)
        .where($"nn_id" >= 0).select("nn_id").as[Long].collect().toSet
    val buildIds = emb.where($"vec_id" % 3 =!= 2)
      .select("vec_id").as[Long].collect().toSet
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    assert(dataRows(1) == buildIds, "v1 is not the pre-append build")
    assert(dataRows(2) == allIds, "v2 is not the pre-compaction full corpus")
    assert(dataRows(3) == allIds, "compaction changed content")
    // vacuum trims history to the current version — the standard
    // retention trade — after which v3 still reads
    graft.io.IO.vacuumPartitionedStore(spark, path, orphanGraceMs = 0L)
    assert(graft.io.IO.storeVersions(spark, path) == Seq(3))
    assert(dataRows(3) == allIds)
    graft.io.IO.deletePath(path)
  }

  test("rangeSearch: exactly the >= threshold pair set (rounded-cosine boundary)") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where("vec_id < 5")
    val got = Ann.rangeSearch(emb, queries, minCosine = 0.25)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    // independent exact baseline via the HOF cosine formulation; both
    // sides threshold the ROUNDED 6-dp cosine (the emitted value) so the
    // inclusion boundary is a grid point, never an ulp race
    val c = emb.select($"vec_id".as("nn_id"),
      transform($"embedding", x => x.cast("double")).as("cv"))
    val q = queries.select($"vec_id".as("query_id"),
      transform($"embedding", x => x.cast("double")).as("qv"))
    val want = c.crossJoin(q).where($"nn_id" =!= $"query_id")
      .where(round(Ann.dot($"cv", $"qv") /
        (Ann.l2norm($"cv") * Ann.l2norm($"qv")), 6) >= 0.25)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(got == want, s"range set mismatch: extra=${got -- want} missing=${want -- got}")
  }

  test("autoCells: √n sizing clamped to [16, 4096]") {
    assert(Ann.autoCells(0L) == 16)
    assert(Ann.autoCells(100L) == 16)        // floor
    assert(Ann.autoCells(10000L) == 100)     // √n
    assert(Ann.autoCells(1000000L) == 1000)
    assert(Ann.autoCells(100000000L) == 4096) // ceiling
  }

  test("fitCentroids: auto nCells follows the √n rule at two corpus sizes") {
    val emb = Tables.embeddings(spark, sf).where($"embedding".isNotNull)
    val n = emb.count()
    assert(Ann.fitCentroids(emb, nCells = 0).count() == Ann.autoCells(n).toLong)
    val sub = emb.where($"vec_id" < 100)
    val nSub = sub.count()
    assert(Ann.fitCentroids(sub, nCells = 0).count() == Ann.autoCells(nSub).toLong)
    assert(Ann.autoCells(n) != Ann.autoCells(10000L), "sizes must discriminate")
  }

  test("fitCentroids: sampled fit (cap below corpus) is deterministic and still serves") {
    val emb = Tables.embeddings(spark, sf).where($"embedding".isNotNull)
    assert(emb.count() > 100L, "fixture must exceed the cap for this test")
    val a = Ann.fitCentroids(emb, nCells = 16, fitSampleCap = 100L)
      .orderBy("cell").collect().map(_.toString)
    val b = Ann.fitCentroids(emb, nCells = 16, fitSampleCap = 100L)
      .orderBy("cell").collect().map(_.toString)
    assert(a.sameElements(b), "hash sample must be deterministic across runs")
    // centroids from the bounded fit still route: the IVF recall contract
    // holds unchanged (cells only route — sample shifts centroids, not
    // correctness)
    val cents = Ann.fitCentroids(emb, nCells = 16, fitSampleCap = 100L)
    val queries = emb.where("vec_id < 5")
    val brute = Ann.bruteTopK(emb, queries, k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(emb, queries, k = 10, nProbe = 8,
        centroids = Some(cents))
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"sampled-fit IVF recall too low: $recall")
  }

  test("knnGraph: probe selection is map-side (only the final rank window remains)") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ann.fitCentroids(emb.where($"embedding".isNotNull))
    val plan = Ann.knnGraph(emb, k = 10, centroids = Some(cents))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // the old probe path added a second window over n·nCells rows carrying
    // the full embedding; probes now come from a map-side argmin explode
    assert(windows.size == 1, s"expected only the rank window, got ${windows.size}")
  }

  test("knnGraph: planted clusters neighbor within their cluster; k bound holds") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vecs = (0 until 12).map { i =>
      val ctr = if (i < 6) c1 else c2
      (i.toLong, mk(ctr, 0.01f * (i % 4)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val g = Ann.knnGraph(df, k = 3, nCells = 2, nProbe = 1)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
    assert(g.groupBy(_._1).forall(_._2.length <= 3), "k bound violated")
    assert(g.map(_._1).distinct.length == 12, "every node gets neighbors")
    // with one probe into two clean cells, neighbors stay in-cluster
    assert(g.forall { case (a, b) => (a < 6) == (b < 6) },
      s"cross-cluster edge under clean planted cells: ${g.toSeq}")
  }

  test("knnGraph: sampled nodes match ivfTopK under the same centroids") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ann.fitCentroids(emb.where($"embedding".isNotNull))
    val graph = Ann.knnGraph(emb, k = 10, centroids = Some(cents))
      .where($"query_id" < 8)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    val served = Ann.ivfTopK(emb, emb.where("vec_id < 8"), k = 10,
        centroids = Some(cents))
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(graph == served,
      s"graph/served divergence: ${graph -- served} / ${served -- graph}")
  }

  test("mmrTopK: hand-computed greedy — the diverse pick beats the redundant one") {
    // query along e1; corpus: a = exact e1 match, b = duplicate of a,
    // c = orthogonal along e2. λ=0.4: after picking a, b scores
    // 0.4·1 − 0.6·sim(a,b)=1 → −0.2, c scores 0.4·0 − 0.6·0 = 0 → c wins
    // rank 2 despite b's higher raw cosine.
    val df = Seq(
      (100L, Seq(1f, 0f)),   // the query
      (1L, Seq(2f, 0f)),     // a: cos 1.0
      (2L, Seq(3f, 0f)),     // b: cos 1.0, duplicate direction of a
      (3L, Seq(0f, 5f))      // c: cos 0.0, orthogonal
    ).toDF("vec_id", "embedding")
    val got = Ann.mmrTopK(df.where($"vec_id" =!= 100L), df.where($"vec_id" === 100L),
        k = 3, m = 3, lambda = 0.4)
      .orderBy("mmr_rank")
      .select("mmr_rank", "nn_id", "cosine", "mmr_score")
      .as[(Int, Long, Double, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L)) // a, then diverse c, then b
    assert(got(0) == ((1, 1L, 1.0, 0.4)))   // first pick: λ·cos, zero penalty
    assert(got(1) == ((2, 3L, 0.0, 0.0)))   // c: 0.4·0 − 0.6·0
    assert(got(2) == ((3, 2L, 1.0, -0.2)))  // b: 0.4·1 − 0.6·1
    // the guaranteed invariant: scores never increase down the ranking
    assert(got.map(_._4).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("mmrTopK: λ=1 degenerates to the exact top-k (no diversity penalty)") {
    val emb = Tables.embeddings(spark, sf)
    val mmr = Ann.mmrTopK(emb, emb.where("vec_id < 4"), k = 5, m = 5, lambda = 1.0)
      .select($"query_id", $"mmr_rank".as("rank"), $"nn_id")
      .as[(Long, Int, Long)].collect().toSet
    val brute = Ann.bruteTopK(emb, emb.where("vec_id < 4"), k = 5)
      .select($"query_id", $"rank", $"nn_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(mmr == brute)
  }

  test("mmrTopK: first pick is the exact top-1 at any λ") {
    val emb = Tables.embeddings(spark, sf)
    val first = Ann.mmrTopK(emb, emb.where("vec_id < 8"), k = 3, m = 10, lambda = 0.3)
      .where($"mmr_rank" === 1).select("query_id", "nn_id")
      .as[(Long, Long)].collect().toSet
    val top1 = Ann.bruteTopK(emb, emb.where("vec_id < 8"), k = 1)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(first == top1)
  }

  test("tuneProbe: persisted operating point — monotone curve, full-probe " +
       "recall 1.0, recall-target serve resolves the smallest measured " +
       "probe, a committed append makes the point stale until re-tuned") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_tune_store"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb, path)
    val queries = emb.where("vec_id < 5")
    val curve = Ann.tuneProbe(spark, path, queries, k = 10)
      .orderBy("n_probe").as[(Int, Double)].collect().toSeq
    assert(curve.last._2 == 1.0, s"full-probe point must be exactly 1.0: $curve")
    assert(curve.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      s"curve must be monotone: $curve")
    val Ann.Curve(k, _, _, pts) = Ann.readCurve(spark, path, Ann.Knob.Probe)
    assert(k == 10 && pts == curve, s"round-trip mismatch: $pts vs $curve")
    assert(!Ann.curveStale(spark, path, Ann.Knob.Probe))
    // resolve rule: the SMALLEST measured probe meeting the target
    val target = 0.9
    val p = Ann.resolveCurve(spark, path, Ann.Knob.Probe, target)
    assert(pts.filter(_._1 < p).forall(_._2 < target),
      s"a smaller probe already met $target: $pts resolved $p")
    assert(pts.find(_._1 == p).exists(_._2 >= target),
      s"resolved probe $p does not meet $target in $pts")
    // the recall-target serve IS the resolved-probe serve
    val atRecall = Ann.ivfStoreTopKAtRecall(spark, path, queries, 10, target)
      .select("query_id", "nn_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val atProbe = Ann.ivfStoreTopK(spark, path, queries, 10, nProbe = p)
      .select("query_id", "nn_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(atRecall == atProbe)
    // an unreachable target resolves to the full-probe point (total)
    assert(Ann.resolveCurve(spark, path, Ann.Knob.Probe, 1.0) == pts.map(_._1).max ||
      pts.exists(pt => pt._2 >= 1.0 &&
        pt._1 == Ann.resolveCurve(spark, path, Ann.Knob.Probe, 1.0)))
    // drift: an appended commit outdates the measured point — the
    // re-tune signal ann_store_staleness's drift report pairs with
    Ann.appendVectorStore(emb.where("vec_id < 3")
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding"), path)
    assert(Ann.curveStale(spark, path, Ann.Knob.Probe),
      "append must outdate the recorded operating point")
    // a recall-target serve against the stale curve fails LOUDLY (it
    // could silently miss the stated target) — allowStale is the
    // explicit opt-out and serves at the last measured operating point
    intercept[IllegalArgumentException] {
      Ann.ivfStoreTopKAtRecall(spark, path, queries, 10, target)
    }
    assert(Ann.ivfStoreTopKAtRecall(spark, path, queries, 10, target,
      allowStale = true).count() > 0L)
    Ann.tuneProbe(spark, path, queries, k = 10)
    assert(!Ann.curveStale(spark, path, Ann.Knob.Probe), "re-tune must clear staleness")
    // a recall target only resolves at the k the curve was TUNED at —
    // recall@10 says nothing about recall@100
    intercept[IllegalArgumentException] {
      Ann.resolveCurve(spark, path, Ann.Knob.Probe, target, forK = 5)
    }
    intercept[IllegalArgumentException] {
      Ann.ivfStoreTopKAtRecall(spark, path, queries, k = 5, minRecall = target)
    }
    // an untuned store refuses a recall-target serve (no measured basis)
    val bare = "/root/repo/target/qtmp/annspec_tune_bare"
    graft.io.IO.deletePath(bare)
    Ann.writeIvfStore(emb.where("vec_id < 40"), bare)
    intercept[IllegalArgumentException] {
      Ann.resolveCurve(spark, bare, Ann.Knob.Probe, 0.9)
    }
  }

  test("tuneRefine: persisted PQ operating point — monotone curve, " +
       "never-binding theorem point 1.0, recall-target serve resolves the " +
       "smallest measured refine, k/nProbe mismatches and stale curves " +
       "fail loudly") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_tunerefine_store"
    graft.io.IO.deletePath(path)
    Ann.writeIvfPqStore(emb, path)
    val queries = emb.where("vec_id < 5")
    val curve = Ann.tuneRefine(spark, path, queries, refineFrom = emb,
        k = 10, nProbe = 4)
      .orderBy("refine").as[(Int, Double)].collect().toSeq
    assert(curve.last._2 == 1.0, s"theorem point must be exactly 1.0: $curve")
    assert(curve.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      s"curve must be monotone: $curve")
    val Ann.Curve(k, p, _, pts) = Ann.readCurve(spark, path, Ann.Knob.Refine)
    assert(k == 10 && p == Some(4) && pts == curve)
    assert(!Ann.curveStale(spark, path, Ann.Knob.Refine))
    val target = 0.9
    val r = Ann.resolveCurve(spark, path, Ann.Knob.Refine, target)
    assert(pts.filter(_._1 < r).forall(_._2 < target),
      s"a smaller refine already met $target: $pts resolved $r")
    assert(pts.find(_._1 == r).exists(_._2 >= target))
    // the recall-target serve IS the resolved-refine serve
    val atRecall = Ann.ivfPqStoreTopKAtRecall(spark, path, queries, 10,
        target, refineFrom = emb, nProbe = 4)
      .select("query_id", "nn_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val atRefine = Ann.ivfPqStoreTopK(spark, path, queries, 10, nProbe = 4,
        refine = r, refineFrom = Some(emb))
      .select("query_id", "nn_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(atRecall == atRefine)
    // tuned-at mismatches fail loudly — recall@ (k, nProbe) transfers
    // across neither axis
    intercept[IllegalArgumentException] {
      Ann.resolveCurve(spark, path, Ann.Knob.Refine, target, forK = 5, forProbe = 4)
    }
    intercept[IllegalArgumentException] {
      Ann.ivfPqStoreTopKAtRecall(spark, path, queries, 10, target,
        refineFrom = emb, nProbe = 2)
    }
    // a committed append outdates the point; allowStale is the opt-out
    Ann.appendVectorStore(emb.where("vec_id < 3")
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding"), path)
    assert(Ann.curveStale(spark, path, Ann.Knob.Refine))
    intercept[IllegalArgumentException] {
      Ann.ivfPqStoreTopKAtRecall(spark, path, queries, 10, target,
        refineFrom = emb, nProbe = 4)
    }
    assert(Ann.ivfPqStoreTopKAtRecall(spark, path, queries, 10, target,
      refineFrom = emb, nProbe = 4, allowStale = true).count() > 0L)
    // an untuned store refuses a recall-target serve
    val bare = "/root/repo/target/qtmp/annspec_tunerefine_bare"
    graft.io.IO.deletePath(bare)
    Ann.writeIvfPqStore(emb.where("vec_id < 40"), bare)
    intercept[IllegalArgumentException] {
      Ann.resolveCurve(spark, bare, Ann.Knob.Refine, 0.9)
    }
  }

  private def scratchStore(name: String): String =
    new java.io.File(s"target/qtmp/$name").getAbsolutePath

  private def servedRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("query_id", "nn_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted

  test("probe-curve candidates: the top-k at every probe count of the grid " +
       "equals ivfStoreTopK at that nProbe, row for row") {
    val emb = Tables.embeddings(spark, sf)
    val path = scratchStore("annspec_probe_prefix")
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb, path)
    val queries = emb.where("vec_id < 5")
    val nCells = graft.io.IO.storeBuckets(path) - 1
    val cands = Ann.ivfStoreProbeCandidates(spark, path, queries, nCells).localCheckpoint()
    for (p <- Iterator.iterate(1)(_ * 2).takeWhile(_ < nCells).toSeq :+ nCells) {
      val derived = servedRows(Ann.topKAt(cands, Ann.Knob.Probe, 10, p))
      assert(derived.nonEmpty)
      assert(derived == servedRows(Ann.ivfStoreTopK(spark, path, queries, 10, nProbe = p)),
        s"nProbe=$p")
    }
  }

  test("refine-curve candidates: the top-k at every refine width of the grid " +
       "equals the flat-refined ivfPqStoreTopK at that width, row for row") {
    val emb = Tables.embeddings(spark, sf)
    val path = scratchStore("annspec_refine_prefix")
    graft.io.IO.deletePath(path)
    Ann.writeIvfPqStore(emb, path)
    val queries = emb.where("vec_id < 5")
    val refineMax = ((Ann.readIvfPqStore(spark, path).count() + 9) / 10).toInt
    val cands = Ann.ivfPqRefineCandidates(spark, path, queries, nProbe = 4,
      refineFrom = emb).localCheckpoint()
    for (r <- Seq(1, 2, 4, 8, refineMax)) {
      val derived = servedRows(Ann.topKAt(cands, Ann.Knob.Refine, 10, r))
      assert(derived.nonEmpty)
      assert(derived == servedRows(Ann.ivfPqStoreTopK(spark, path, queries, 10,
        nProbe = 4, refine = r, refineFrom = Some(emb))), s"refine=$r")
    }
  }

  test("curve sidecars: both formats read back from their exact bytes, a " +
       "tune writes those bytes, and a wrong-kind or malformed sidecar fails " +
       "loudly naming its path") {
    import java.nio.file.{Files, Paths}
    val dir = scratchStore("annspec_curve_sidecars")
    graft.io.IO.deletePath(dir)
    Files.createDirectories(Paths.get(dir))
    def put(name: String, text: String): Unit =
      Files.write(Paths.get(dir, name), text.getBytes("UTF-8"))
    val probeBytes = "k=10\tversion=3\tn_queries=5\n1\t0.52\n2\t0.875\n16\t1.0"
    put("_graft_probe_curve", probeBytes)
    put("_graft_refine_curve",
      "k=10\tn_probe=4\tversion=2\tn_queries=5\n1\t0.72\n2\t0.9\n40\t1.0")
    assert(Ann.readCurve(spark, dir, Ann.Knob.Probe) ==
      Ann.Curve(10, None, 3, Seq((1, 0.52), (2, 0.875), (16, 1.0))))
    assert(Ann.readCurve(spark, dir, Ann.Knob.Refine) ==
      Ann.Curve(10, Some(4), 2, Seq((1, 0.72), (2, 0.9), (40, 1.0))))
    // a probe sidecar read as a refine curve, and a malformed one
    put("_graft_refine_curve", probeBytes)
    val wrongKind = intercept[IllegalArgumentException] {
      Ann.readCurve(spark, dir, Ann.Knob.Refine)
    }
    assert(wrongKind.getMessage.contains(dir), wrongKind.getMessage)
    put("_graft_probe_curve", "k=10\tversion=3\tn_queries=5\n1;0.52")
    val malformed = intercept[IllegalArgumentException] {
      Ann.readCurve(spark, dir, Ann.Knob.Probe)
    }
    assert(malformed.getMessage.contains(dir), malformed.getMessage)
    // a tune writes exactly this format: header keys in order, then one
    // line per measured point
    val emb = Tables.embeddings(spark, sf)
    val path = scratchStore("annspec_curve_bytes")
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb.where("vec_id < 60"), path)
    val curve = Ann.tuneProbe(spark, path, emb.where("vec_id < 3"), k = 5)
      .orderBy("n_probe").as[(Int, Double)].collect().toSeq
    val v = graft.io.IO.storeVersions(spark, path).last
    assert(new String(Files.readAllBytes(Paths.get(path, "_graft_probe_curve")), "UTF-8") ==
      s"k=5\tversion=$v\tn_queries=3\n" + curve.map { case (p, r) => s"$p\t$r" }.mkString("\n"))
  }

  test("refreshIvfStore: gated on the measured drift report; the refit " +
       "re-routes in one commit, resets the staleness baseline, and " +
       "serves exactly a batch assignment under the new centroids") {
    val emb = Tables.embeddings(spark, sf)
    val path = "/root/repo/target/qtmp/annspec_refresh_store"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(emb, path)
    // fresh store: build == now, nothing drifted — the gate declines and
    // commits nothing
    val v0 = graft.io.IO.storeVersions(spark, path)
    assert(!Ann.refreshIvfStore(spark, path))
    assert(graft.io.IO.storeVersions(spark, path) == v0)
    // plant REAL drift: every vector re-embedded far out of distribution
    val drift = emb.select(($"vec_id" + 9000L).as("vec_id"),
      transform($"embedding", x => x * lit(5.0f) + lit(3.0f)).as("embedding"))
    Ann.appendVectorStore(drift, path)
    assert(Ann.vectorStoreStaleness(spark, path)
      .where($"drifted" && $"n_now" > 0).count() > 0,
      "planted drift must trip the report")
    val v1 = graft.io.IO.storeVersions(spark, path)
    assert(Ann.refreshIvfStore(spark, path), "tripped gate must refresh")
    val v2 = graft.io.IO.storeVersions(spark, path)
    assert(v2.size == v1.size + 1, "refresh must be ONE atomic commit")
    // baseline advanced to the refresh version: the report is clean for
    // exactly the corpus the new quantizer was fit on
    assert(Ann.vectorStoreStaleness(spark, path)
      .where($"drifted" && $"n_now" > 0).count() == 0L)
    // pre-refresh versions stay time-travel-readable (servable counts
    // computed per side: a ×5+3 re-embed can make a zero vector usable)
    val nServable = emb.where(Ann.cosineUsable($"embedding")).count() +
      drift.where(Ann.cosineUsable($"embedding")).count()
    val preRows = graft.io.IO.readPartitionedStoreAt(spark, path, v1.last)
      .where($"nn_id" >= 0).count()
    assert(preRows == nServable, s"pre-refresh read lost rows: $preRows")
    // served results equal a batch assignment of the CURRENT corpus
    // under the refreshed centroids (row content was only re-routed)
    val queries = emb.where("vec_id < 5")
    val cents = Ann.readCentroids(spark, path)
    val corpus = emb.select("vec_id", "embedding").unionByName(drift)
    val served = Ann.ivfStoreTopK(spark, path, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = Ann.ivfTopKFromAssigned(Ann.assignCells(corpus, cents), cents,
        queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == batch)
  }
}
