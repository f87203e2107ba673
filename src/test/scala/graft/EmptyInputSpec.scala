package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Bpe, Dedup, LangId, Mixing, TextAnalysis}

/** Library-grade empty-input behavior: a user's filter routinely produces
  * an empty frame mid-pipeline, and every operator here must return a
  * well-typed EMPTY result (or, for fitted models, a defined degenerate
  * state) rather than throw. Schema is asserted alongside the count so a
  * downstream union/join over the empty result still resolves. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noDocsSrc =
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
  private lazy val noVecs =
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
  private lazy val someVecs = Seq(
    (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0)
  ).toDF("vec_id", "embedding", "label")

  private def emptyWithCols(df: DataFrame, cols: String*): Unit = {
    assert(df.count() == 0L)
    assert(cols.forall(df.columns.contains),
      s"schema ${df.columns.toSeq} missing one of $cols")
  }

  test("dedup family: empty corpus yields empty, well-typed results") {
    emptyWithCols(Dedup.exact(noDocs), "content_hash", "keep_id", "dup_count")
    emptyWithCols(Dedup.jaccardPairs(noDocs), "idA", "idB")
    emptyWithCols(Dedup.minhashPairs(noDocs), "idA", "idB")
    emptyWithCols(Dedup.simhashPairs(noDocs), "idA", "idB")
    emptyWithCols(Dedup.boilerplateStats(noDocs), "doc_id")
    emptyWithCols(Dedup.segmentDedup(noDocs), "doc_id", "clean_text")
    emptyWithCols(Dedup.dupClusters(
      Seq.empty[(Long, Long)].toDF("idA", "idB")), "cluster_id")
    // decontamination against an empty benchmark keeps the whole corpus;
    // an empty corpus survives an arbitrary benchmark
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(docs, noDocs, threshold = 0.5).count() == 1L)
    emptyWithCols(Dedup.decontaminate(noDocs, docs, threshold = 0.5), "doc_id")
  }

  test("ann family: empty corpus or empty query side yields empty results") {
    emptyWithCols(Ann.bruteTopK(noVecs, someVecs, k = 5), "query_id", "nn_id")
    emptyWithCols(Ann.bruteTopK(someVecs, noVecs, k = 5), "query_id", "nn_id")
    emptyWithCols(Ann.rangeSearch(noVecs, someVecs, minCosine = 0.5),
      "query_id", "nn_id", "cosine")
    emptyWithCols(Ann.quantize(noVecs), "vec_id", "scale")
    emptyWithCols(Ann.mmrTopK(someVecs, noVecs, k = 1, m = 1),
      "query_id", "nn_id")
  }

  test("samplers and packing: empty input yields empty output, not a crash") {
    emptyWithCols(Mixing.hashSample(noDocsSrc, "doc_id", "source",
      Seq("webcrawl" -> 0.5), 0.1), "doc_id")
    emptyWithCols(Mixing.capPerStratum(noDocsSrc, "source", "doc_id", k = 5,
      seed = "s"), "doc_id")
    emptyWithCols(Mixing.temperatureSample(noDocsSrc, "source", "doc_id",
      budget = 10L, seed = "s"), "doc_id")
    emptyWithCols(Mixing.packBins(
      Seq.empty[(String, Long, Int)].toDF("source", "doc_id", "n_tok"),
      "source", "doc_id", "n_tok", capacity = 128), "bin")
    emptyWithCols(Mixing.shuffleShards(noDocs, "doc_id", seed = "s",
      nShards = 4), "shard")
  }

  test("text analysis: empty corpus yields empty reports; BPE fits to a " +
       "defined exhausted state") {
    emptyWithCols(TextAnalysis.bm25(noDocs, Seq("cat")), "doc_id", "bm25")
    emptyWithCols(TextAnalysis.unigramLogProb(noDocs), "doc_id", "n_tok")
    emptyWithCols(TextAnalysis.charEntropy(noDocs), "doc_id")
    emptyWithCols(LangId.predict(noDocs), "doc_id")
    val fit = Bpe.fitVerbose(noDocs, nMerges = 8)
    assert(fit.merges.isEmpty && fit.exhausted,
      "an empty corpus is a genuinely dry corpus, not a truncated fit")
    emptyWithCols(Bpe.encodedTokenCounts(noDocs, fit.merges),
      "doc_id", "bpe_tokens")
  }

  test("store maintenance ops: empty mutation/tune inputs are defined " +
       "no-ops, never crashes or phantom commits") {
    // tiny IVF store to mutate/tune against
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array(1.0f + i * 0.1f, 0.5f - i * 0.05f), 0))
      .toDF("vec_id", "embedding", "label")
    val path = "/root/repo/target/qtmp/empty_ops_ivf"
    graft.io.IO.deletePath(path)
    Ann.writeIvfStore(vecs, path)
    val v0 = graft.io.IO.storeVersions(spark, path)
    // empty delete/upsert: nothing located, nothing inserted — no commit
    Ann.deleteFromVectorStore(spark, path, noVecs.select("vec_id"))
    Ann.upsertVectorStore(noVecs.select("vec_id", "embedding"), path)
    assert(graft.io.IO.storeVersions(spark, path) == v0,
      "empty mutations must not commit phantom versions")
    // tune with ZERO usable queries: a defined all-zero curve whose
    // full-probe point is still 1.0 by theorem; resolve stays total
    val curve = Ann.tuneProbe(spark, path, noVecs, k = 3)
      .orderBy("n_probe").as[(Int, Double)].collect()
    assert(curve.nonEmpty && curve.last._2 == 1.0)
    assert(curve.init.forall(_._2 == 0.0),
      s"no-query recall must be the defined 0.0, got $curve")
    assert(Ann.resolveCurve(spark, path, Ann.Knob.Probe, 0.9, forK = 3) == curve.last._1)
    // BM25: empty delete is a no-op commit-wise
    val docs = Seq((1L, "cat dog"), (2L, "dog fish")).toDF("doc_id", "text")
    val bm = "/root/repo/target/qtmp/empty_ops_bm25"
    graft.io.IO.deletePath(bm)
    graft.llm.Bm25Store.write(docs, bm, termBuckets = 4)
    val b0 = graft.io.IO.storeVersions(spark, bm)
    graft.llm.Bm25Store.delete(spark, bm, noDocs.select("doc_id"))
    assert(graft.io.IO.storeVersions(spark, bm) == b0)
  }
}
