package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Ann, Bm25Store, Bpe, Dedup, LangId, Mixing, Multimodal, QualityModel, TextAnalysis}

/** The beyond-reference LLM-training-data-pipeline operators: dedup,
  * similarity search, text analysis, multimodal columns — each a
  * first-class registered query over the `documents`/`embeddings` fixtures.
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame
  import Fixtures.tokSql

  private val storeRunId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Seeded KMeans centroids over the full embedding corpus, fitted once
    * per (session, dir) and shared by every ANN query that quantizes the
    * same corpus (ivf top-k, cluster report). The fit is deterministic
    * (seed 42, fixed init), so sharing changes nothing about results —
    * it only removes the redundant fit jobs. */
  private[graft] def corpusCentroids(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"ann_corpus_centroids:$dir") {
      Ann.fitCentroids(
        Tables.embeddings(s, dir).where(col("embedding").isNotNull))
    }

  /** Build a fragmented IVF store at `path`: 2/3 of the corpus as the
    * initial build, the remaining third appended through the STORED
    * centroids — the maintenance lifecycle both store queries verify.
    * Routing centroids come from the session's shared fitted quantizer
    * (any consistent centroid set is valid — the contracts read centroids
    * back from the store for both compared paths). */
  private def buildSplitIvfStore(s: SparkSession, dir: String,
                                 path: String): String = {
    graft.io.IO.deletePath(path)
    val emb = Tables.embeddings(s, dir)
    Ann.writeIvfStore(emb.where("vec_id % 3 != 2"), path,
      centroids = Some(corpusCentroids(s, dir)))
    Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
    path
  }

  /** ONE built IVF store per (session, dir), shared by ann_ivf_store,
    * ann_ivf_compact, and st_ann_serve: all three verify serve paths over
    * the same corpus and none changes row content (compaction rewrites
    * byte-identical rows), so building the store per consumer bought
    * identical stores for multiplied cost. Contents equal a full-corpus
    * build by construction — the split build + O(delta) append covers
    * every cosine-servable row. NOT Sweep-ephemeral — the path must
    * survive the between-query sweep for the later consumers; it dies
    * with the JVM's target/qtmp. */
  private[graft] def sharedIvfStore(s: SparkSession, dir: String): String =
    SessionMemo.value(s, s"ivf_shared_store:$dir") {
      buildSplitIvfStore(s, dir,
        s"/root/repo/target/qtmp/ivf_shared_${storeRunId.incrementAndGet()}")
    }

  /** ONE built IVF-PQ store per (session, dir) — the codes-at-rest
    * serving tier below [[sharedIvfStore]]'s full-precision layout. Built
    * on 2/3 + O(delta) append (the lifecycle the query verifies), with
    * the session's shared coarse quantizer passed in explicitly. The PQ
    * codebooks are NOT shared with ann_pq_topk's raw-vector fit: the
    * store encodes RESIDUALS (v − centroid(cell), the FAISS IVFPQ
    * layout), so the build fits its own residual-space codebooks —
    * a different quantizer by construction, 3 bounded Lloyd iterations
    * over the hash-capped residual sample. */
  private[graft] def sharedIvfPqStore(s: SparkSession, dir: String): String =
    SessionMemo.value(s, s"ivfpq_shared_store:$dir") {
      val path = s"/root/repo/target/qtmp/ivfpq_shared_${storeRunId.incrementAndGet()}"
      graft.io.IO.deletePath(path)
      val emb = Tables.embeddings(s, dir)
      Ann.writeIvfPqStore(emb.where("vec_id % 3 != 2"), path,
        centroids = Some(corpusCentroids(s, dir)))
      Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
      path
    }

  /** ONE built BM25 inverted index per (session, dir) — the lexical twin
    * of [[sharedIvfStore]]: built on 2/3 of the corpus and brought to
    * full coverage by an O(delta) append (the maintenance lifecycle
    * tx_bm25_store verifies), then reused as the SERVE arm of the hybrid
    * fusion query — so the store the flagship hybrid workload reads is
    * the one the lifecycle query just exercised, not a second build.
    * Same non-ephemeral rule as the IVF memo: the path must survive the
    * between-query sweep for the second consumer. */
  private[graft] def sharedBm25Store(s: SparkSession, dir: String): String =
    SessionMemo.value(s, s"bm25_shared_store:$dir") {
      val docs = Tables.documents(s, dir)
      val path = s"/root/repo/target/qtmp/bm25_shared_${storeRunId.incrementAndGet()}"
      graft.io.IO.deletePath(path)
      Bm25Store.write(docs.where("doc_id % 3 != 2"), path)
      Bm25Store.append(docs.where("doc_id % 3 = 2"), path)
      path
    }

  /** Seeded PQ codebooks over the full embedding corpus, fitted once per
    * (session, dir) — same sharing seam as [[corpusCentroids]]: the Lloyd
    * fit is the expensive step; encode/serve are deterministic given the
    * codebooks. */
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"ann_pq_codebooks:$dir") {
      // 3 Lloyd iterations, not the library-default 5: the codebooks only
      // shape the ADC shortlist (refine·k = 80 candidates for top-10) and
      // the exact re-rank restores order — measured recall is far above
      // the 0.5 contract floor at 3 iters, while each extra iteration is
      // a full corpus scan (the dominant cost of the fit at any SF)
      Ann.fitPqCodebooks(Tables.embeddings(s, dir), maxIter = 3)
    }

  /** BPE merge table fitted once per (session, dir) and shared by
    * tx_bpe_fit and tx_bpe_encode (same corpus, same deterministic fit —
    * sharing only removes the redundant iteration jobs). Depth 256 — a
    * non-toy vocabulary request; the tiny-vocab fixture legitimately
    * exhausts earlier, and the fit reports which happened. The merges are
    * a driver-local Seq (≤ nMerges rows), so the memo holds no executor
    * storage. */
  private val bpeDepth = 256
  private def bpeFit(s: SparkSession, dir: String): Bpe.FitResult =
    SessionMemo.value(s, s"tx_bpe_merges:$dir") {
      Bpe.fitVerbose(Tables.documents(s, dir), nMerges = bpeDepth)
    }

  /** Deterministic synthetic PII for tx_pii_scrub: one email, one IPv4,
    * one phone number per document, derived from doc_id. Spark and SQL
    * forms are kept adjacent so they can never drift apart. */
  private[graft] def withSyntheticPii(t: org.apache.spark.sql.Column,
                                      id: org.apache.spark.sql.Column) =
    concat(coalesce(t, lit("")), lit(" contact user"), id.cast("string"),
      lit("@example.com from 10."), pmod(id, lit(256)).cast("string"),
      lit(".0.1 tel +1555"), lpad(pmod(id, lit(10000)).cast("string"), 4, "0"))

  private[graft] val piiAugSql: String =
    "concat(coalesce(text, ''), ' contact user', CAST(doc_id AS VARCHAR), " +
      "'@example.com from 10.', CAST(doc_id % 256 AS VARCHAR), " +
      "'.0.1 tel +1555', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"

  /** Measured contract stats for an ANN operator vs the exact brute-force
    * baseline: recall over the brute top-k (seed-dependent ⇒ surfaced as an
    * invariant boolean in the query), exact re-scoring of every returned
    * pair (the re-rank kernel must reproduce the independently recomputed
    * cosine at the rounded precision), and rank integrity (contiguous 1..n
    * per query, ordered by the same (cosine desc, nn_id) key). */
  private[graft] case class AnnStats(nQueries: Long, recall: Double,
                                     mismatches: Long, rankBad: Long)

  /** Multiset equality of two frames over the given columns — the
    * store-vs-batch-recomputation check the maintenance contracts share.
    * Per-side counts compared per key (NOT union + count-==-2, which an
    * intra-frame duplicate could satisfy from one side alone).
    *
    * NULL-KEY CONTRACT (ADVICE r14): compared columns must be NON-NULL BY
    * CONSTRUCTION. The groupBy form groups NULL keys together (SQL
    * grouping semantics), so two sides each holding one NULL-keyed row
    * compare EQUAL — where the pre-round-14 full-outer-join form counted
    * them as a mismatch (null != null never joins). All current call
    * sites compare non-null-by-construction columns (cosineUsable /
    * token filters / rank outputs); the guard below fails loudly if a
    * future caller feeds a nullable key rather than silently weakening
    * eight contracts.
    *
    * Optimization round 14 (guide §2.4): ONE side-tagged aggregation over
    * the union instead of two per-side aggregations full-outer-joined —
    * same boolean (a key absent from one side aggregates to a 0 count on
    * that side, exactly the null arm of the old full-outer form), but one
    * Exchange instead of two aggregation Exchanges plus a join. This check
    * runs inside eight maintenance contracts (ann_ivf_store, store
    * delete/upsert/refresh, probe curve, tx_bm25_upsert, ...), so the
    * saved shuffles multiply. */
  private[graft] def multisetMismatches(a: DataFrame, b: DataFrame,
                                        cols: Seq[String]): DataFrame = {
    val cs = cols.map(col)
    // fail-loud null-key guard (see the NULL-KEY CONTRACT above): raised
    // through a compared column so it is evaluated exactly where rows
    // materialize and cannot be pruned — zero cost on the non-null path
    def guarded(df: DataFrame) = cols.foldLeft(df.select(cs: _*)) { (acc, c) =>
      acc.withColumn(c, when(col(c).isNull,
        raise_error(lit(s"multisetMismatches: NULL in compared column '$c' — " +
          "the groupBy form treats NULL keys as equal where the old " +
          "full-outer form reported a mismatch; compared columns must be " +
          "non-null by construction")).cast(df.schema(c).dataType))
        .otherwise(col(c)))
    }
    guarded(a).withColumn("__side", lit(1L))
      .unionByName(guarded(b).withColumn("__side", lit(0L)))
      .groupBy(cs: _*)
      .agg(sum(col("__side")).as("__na"), sum(lit(1L) - col("__side")).as("__nb"))
      .where(col("__na") =!= col("__nb"))
  }

  private[graft] def multisetEquals(a: DataFrame, b: DataFrame,
                                    cols: Seq[String]): Boolean =
    multisetMismatches(a, b, cols).count() == 0L

  /** `approx` is scanned four times, so callers pass it pinned. */
  private[graft] def annStats(s: SparkSession, approx: DataFrame,
                              dir: String): AnnStats = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where("vec_id < 8")
    val brute = bruteBaseline(s, dir).select(col("query_id"), col("nn_id"))
    val nQueries = queries.count()
    val nBrute = brute.count()
    val hit = approx.select("query_id", "nn_id")
      .join(brute, Seq("query_id", "nn_id")).count()
    val asD = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))
    val cSide = emb.select(col("vec_id").as("nn_id"), col("embedding").as("ev"))
    val qSide = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mismatches = approx
      .join(cSide, "nn_id").join(broadcast(qSide), "query_id")
      .withColumn("exact_cos", round(Ann.cosine(asD(col("ev")), asD(col("qv"))), 4))
      .where(col("cosine") =!= col("exact_cos")).count()
    val rankBad = approx.withColumn("rk2", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)))
      .where(col("rank") =!= col("rk2")).count()
    AnnStats(nQueries, hit.toDouble / math.max(nBrute, 1L), mismatches, rankBad)
  }

  private def annContract(s: SparkSession, approx: DataFrame, dir: String,
                          recallBound: Double): DataFrame = graft.Sweep.pinned { pin =>
    import s.implicits._
    val st = annStats(s, pin(approx.cache()), dir)
    Seq((st.nQueries, st.recall >= recallBound,
         st.mismatches == 0L, st.rankBad == 0L))
      .toDF("n_queries", "recall_ok", "rescore_exact", "ranks_valid")
  }

  /** Measured contract stats for banded MinHash vs the exact shingle-Jaccard
    * baseline (one exact join serves both checks: >= 0.35 is the recall
    * target, >= 0.15 membership is the gross-false-positive floor). */
  private[graft] case class MinhashStats(nExact: Long, recall: Double,
                                         gross: Long, estsOk: Boolean)

  /** Exact shingle-Jaccard pairs at the 0.15 floor, memoized per
    * (session, dir): serves dd_ngram_jaccard (filtered to its 0.35
    * threshold — same join, same values) AND dd_minhash's contract
    * baseline, so the shingle self-join runs once per session. */
  private[graft] def exactJaccardLow(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"jaccard15:$dir") {
      Dedup.jaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.15)
        .select(col("idA"), col("idB"), col("jaccard"))
    }

  /** Connected components of the exact >=0.35 near-dup graph, memoized per
    * (session, dir): dd_clusters emits it directly and dd_survivors derives
    * the canonical-doc set from it, so the label-propagation loop runs once
    * per session. */
  private[graft] def clustersMemo(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"ddclusters:$dir") {
      Dedup.dupClusters(exactJaccardLow(s, dir).where(col("jaccard") >= 0.35))
    }

  /** The data-mixing recipe behind tx_mixture — shared with its oracle so
    * the Spark filter and the SQL CASE can never drift apart. */
  private[graft] val mixtureRates = Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25)
  private[graft] val mixtureDefaultRate = 0.1

  /** Token capacity of a packed training sequence (tx_pack). */
  private[graft] val packCapacity = 256L

  private[graft] def minhashStats(s: SparkSession, dir: String): MinhashStats =
    graft.Sweep.pinned { pin =>
      val docs = Tables.documents(s, dir)
      val found = pin(Dedup.minhashPairs(docs, threshold = 0.35)
        .select(col("idA"), col("idB"), col("jaccard_dist")).cache())
      val exactLow = exactJaccardLow(s, dir)
      val exactAt = exactLow.where(col("jaccard") >= 0.35)
      val nExact = exactAt.count()
      val hit = found.join(exactAt, Seq("idA", "idB")).count()
      val gross = found.join(exactLow, Seq("idA", "idB"), "left_anti").count()
      val estsOk = found.where(col("jaccard_dist") < 0.0 || col("jaccard_dist") > 1.0)
        .count() == 0L
      MinhashStats(nExact, hit.toDouble / math.max(nExact, 1L), gross, estsOk)
    }

  /** Fitted weak-label quality model, memoized per (session, dir): the
    * fit is shared by tx_quality_model and st_quality_stream (same corpus
    * → same model; training twice would just burn two L-BFGS runs). */
  private[graft] def qualityFit(s: SparkSession, dir: String): QualityModel.Fitted =
    SessionMemo.value(s, s"qualityfit:$dir") {
      QualityModel.fit(Tables.documents(s, dir))
    }

  /** ONE measured probe curve per (session, dir) on the shared IVF store
    * — tuned at k=10 over the vec_id<8 query set and PERSISTED in the
    * store's `_graft_probe_curve` sidecar by [[Ann.tuneProbe]]. Shared by
    * ann_tuned_serve (which verifies the curve's contract) and
    * tx_hybrid_serve (whose semantic arm serves at a recall target
    * against it), so the |grid|+1 tuning serves run once per session
    * however many queries resolve on the operating point. The store is
    * never mutated in place (mutating queries clone it), so the
    * persisted point stays CURRENT for every later recall-target serve. */
  private[graft] def sharedIvfCurve(s: SparkSession, dir: String): Seq[(Int, Double)] =
    SessionMemo.value(s, s"ivf_shared_probe_curve:$dir") {
      import s.implicits._
      Ann.tuneProbe(s, sharedIvfStore(s, dir),
          Tables.embeddings(s, dir).where("vec_id < 8"), k = 10)
        .orderBy("n_probe").as[(Int, Double)].collect().toSeq
    }

  /** ONE measured refine curve per (session, dir) on the shared IVF-PQ
    * store — tuned at (k=10, nProbe=4) over the vec_id<8 query set with
    * the full-precision corpus as the flat refine tier, persisted in the
    * store's `_graft_refine_curve` sidecar by [[Ann.tuneRefine]]. The PQ
    * layout's own recall knob is the ADC shortlist width (nProbe tunes on
    * the flat tier — recorded decision f4d0d13), so this is the operating
    * point its recall-target serve resolves on. */
  private[graft] def sharedPqRefineCurve(s: SparkSession, dir: String): Seq[(Int, Double)] =
    SessionMemo.value(s, s"ivfpq_shared_refine_curve:$dir") {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // explicit small grid + the auto theorem point: the default
      // powers-of-2 sweep runs to refineMax (≈ corpus/k serves — ~16
      // grid points at sf0.1), which is tuning-lab budget, not a
      // per-session fixture cost; four low points + the exact point
      // bracket the operating range the resolve actually picks from
      Ann.tuneRefine(s, sharedIvfPqStore(s, dir),
          emb.where("vec_id < 8"), refineFrom = emb, k = 10, nProbe = 4,
          refines = Seq(1, 2, 4, 8))
        .orderBy("refine").as[(Int, Double)].collect().toSeq
    }

  /** Brute-force cosine top-10 for the vec_id<8 query set, memoized per
    * (session, dir): the exact result for ann_brute_topk and the recall
    * baseline for both ANN contracts. */
  private[graft] def bruteBaseline(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"brute10:$dir") {
      val emb = Tables.embeddings(s, dir)
      Ann.bruteTopK(emb, emb.where("vec_id < 8"), k = 10)
    }

  /** Measured contract stats for SemDeDup vs the exact all-pairs cosine
    * baseline at the same threshold. `falsePos` must be 0 structurally
    * (semanticPairs recomputes exact cosines, so its pairs are a subset of
    * the exact set) — a nonzero value means the kernel or the block join
    * broke; recall is cluster-assignment-dependent (seeded KMeans) and
    * surfaces as a probed-bound boolean. */
  private[graft] case class SemStats(nExact: Long, recall: Double, falsePos: Long)

  private[graft] def semanticStats(s: SparkSession, dir: String): SemStats =
    graft.Sweep.pinned { pin =>
      val emb = Tables.embeddings(s, dir)
      // exact all-pairs baseline: one side broadcast (the embeddings table is
      // MBs even at sf0.1), so the cross product parallelizes over the left
      // side's partitions with no shuffle
      val v = emb.where(Ann.cosineUsable(col("embedding")))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val exact = pin(v.select(col("vec_id").as("idA"), col("v").as("vA"))
        .crossJoin(broadcast(v.select(col("vec_id").as("idB"), col("v").as("vB"))))
        .where(col("idA") < col("idB"))
        .withColumn("cosine", graft.functions.CosineSim.cosine_sim(col("vA"), col("vB")))
        .where(col("cosine") >= 0.3)
        .select("idA", "idB").cache())
      val sem = pin(Dedup.semanticPairs(emb, nCells = 8, threshold = 0.3)
        .select("idA", "idB").cache())
      // the within-cell pair join runs when this count fills the cache
      val nSem = graft.obs.span("cell_pair_join")(sem.count())
      val nExact = exact.count()
      val hit = sem.join(exact, Seq("idA", "idB")).count()
      val fp = nSem - hit
      SemStats(nExact, hit.toDouble / math.max(nExact, 1L), fp)
    }

  val defs: Seq[(String, Q)] = Seq(
    // Exact dedup by content hash (hash-groupBy; 16-byte shuffle key).
    "dd_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    // Exact n-gram Jaccard near-dup via shingle equi-join (never all-pairs);
    // the memoized 0.15-floor pair set filtered to this query's threshold
    // (same join, same values — dd_minhash's contract shares the build).
    "dd_ngram_jaccard" -> ((s, dir) =>
      exactJaccardLow(s, dir).where(col("jaccard") >= 0.35)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))),

    // MinHash+LSH near-dup (banded), emitted as its verifiable contract
    // against the EXACT shingle-Jaccard baseline computed in-Spark: the
    // exact pair count is oracle-computable; recall/precision vs it are
    // seeded-hash-dependent, so they surface as invariant booleans the
    // driver hash-gates (bounds re-measured per SF via graft.ProbeContracts;
    // the raw pair set is deep-verified in DedupSpec).
    "dd_minhash" -> ((s, dir) => {
      import s.implicits._
      val st = minhashStats(s, dir)
      Seq((st.nExact, st.recall >= ContractBounds.minhashRecall,
           st.gross == 0L, st.estsOk))
        .toDF("n_exact", "recall_ok", "no_gross_false_positives", "ests_in_unit_interval")
    }),

    // SimHash near-dup via band join: 4 bands of 16 bits — recall exact for
    // hamming <= 3 (pigeonhole: bands must exceed maxHamming; simhashPairs
    // refuses recall-lossy configs). Wide bands keep the blocking join
    // selective: 16-bit band values rarely collide by chance, where a
    // large-maxHamming config (say 16 bands of 4 bits) would bucket the
    // whole corpus into 16 values per band and go quadratic. The md5-derived
    // signature is engine-reproducible, so the oracle recomputes the ENTIRE
    // operator (signatures, banding, hamming) in SQL — a full value check.
    // Null-text rows: Spark propagates a null signature (never joins); the
    // oracle filters them from the sig CTE to mirror that — a zero-token
    // row ('!!!') by contrast hashes to (0,0) in both engines.
    "dd_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3, bands = 4)),

    // Duplicate-cluster resolution: connected components over the exact
    // >=0.35 near-dup graph (min-label propagation; one shuffle per round,
    // rounds = graph diameter). Fully value-checked against a recursive-
    // closure oracle.
    "dd_clusters" -> ((s, dir) => clustersMemo(s, dir)),

    // Canonical-document selection: keep exactly one doc (the smallest id)
    // per near-dup cluster — the materialized outcome the cluster labels
    // exist for. Anti-join against the non-canonical members.
    "dd_survivors" -> ((s, dir) =>
      Tables.documents(s, dir).join(
          clustersMemo(s, dir).where(col("doc_id") =!= col("cluster_id"))
            .select("doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id")),

    // Priority-aware survivor selection: per near-dup cluster keep the
    // LONGEST member (whitespace-token count; ties → lowest id) — the
    // keep-the-best-duplicate refinement real curation uses instead of
    // min-id canonicalization. Reuses the memoized cluster labels.
    "dd_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= ""))
          .as("n_tok"))
      Dedup.survivorsByPriority(docs, clustersMemo(s, dir), "n_tok")
        .select("doc_id", "n_tok")
    }),

    // Per-document novelty: fraction of a doc's distinct shingles first
    // introduced by that doc — the contribution signal dedup-aware
    // sampling ranks by.
    "dd_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(Tables.documents(s, dir))),

    // Cross-source containment matrix over the memoized >=0.35 near-dup
    // pair set: which sources already contain which, and how internally
    // duplicated each one is — the report a mixing recipe reads first.
    "dd_containment" -> ((s, dir) =>
      Dedup.crossSourceContainment(Tables.documents(s, dir),
        exactJaccardLow(s, dir).where(col("jaccard") >= 0.35))),

    // Decontamination: drop corpus docs matching the doc_id%97 "benchmark"
    // subset at J>=0.5. The benchmark shingle side broadcasts — at 100 TB
    // the contamination check is map-side at scan speed.
    "dd_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(docs, docs.where("doc_id % 97 = 0"), threshold = 0.5)
        .select("doc_id")
    }),

    // Decontamination with a Bloom prefilter (the large-benchmark path): a
    // few-MB Bloom over benchmark shingles screens the corpus map-side —
    // no false negatives, so unsuspected docs provably share zero shingles
    // and never shuffle; the exact join confirms only suspects. Identical
    // output to the exact path, so the full-value oracle applies.
    "dd_bloom_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(docs, docs.where("doc_id % 89 = 0"),
          threshold = 0.5, expectedShingles = 50000L, fpp = 0.01)
        .select("doc_id")
    }),

    // Exact duplicated-substring spans (Lee et al. 2022 substring dedup,
    // relational form): maximal runs of corpus-duplicated 8-token windows
    // per document — the ranges a substring-cut pass would remove. Window
    // frequency + hot-set join both keyed on 8-byte hashes; fully
    // value-checked against the naive window-string formulation.
    "dd_substring" -> ((s, dir) =>
      Dedup.dupSpans(Tables.documents(s, dir), k = 8, minDf = 2)),

    // The cut pass dd_substring reports: duplicated spans removed, the
    // surviving token stream reassembled in order. Fully value-checked.
    "dd_substring_strip" -> ((s, dir) =>
      Dedup.stripDupSpans(Tables.documents(s, dir), k = 8, minDf = 2)),

    // Cross-document boilerplate detection: 3-grams shared by >= 3 docs,
    // per-doc boilerplate fraction. Gram document frequency aggregates on
    // an 8-byte hash; the hot-gram set is small by construction and
    // broadcast back. Fully value-checked.
    "dd_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateStats(Tables.documents(s, dir), n = 3, minDf = 3)),

    // SemDeDup: seeded-KMeans semantic cells, exact cosine within a cell.
    // Cell assignment is model state, so the query emits its contract vs
    // the exact all-pairs baseline: the exact pair count (SQL-computable),
    // recall >= probed bound, and zero false positives (structural — the
    // kernel recomputes exact cosines; see ProbeContracts for the raw
    // measured recall per SF).
    "dd_semantic" -> ((s, dir) => {
      import s.implicits._
      val st = semanticStats(s, dir)
      Seq((st.nExact, st.recall >= ContractBounds.semanticRecall,
           st.falsePos == 0L))
        .toDF("n_exact", "recall_ok", "no_false_positives")
    }),

    // Embedding-cosine near-dup, blocked by (label, key-mod) coarse cells.
    "dd_cosine" -> ((s, dir) =>
      Dedup.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          blockKey = struct(col("label"), pmod(col("vec_id"), lit(5))),
          threshold = 0.3)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))),

    // Exact brute-force cosine top-k (the ANN correctness baseline,
    // memoized — the two ANN contracts below reuse it as their recall
    // baseline instead of recomputing the cross product).
    "ann_brute_topk" -> ((s, dir) => bruteBaseline(s, dir)),

    // Exact radius search (everything with cosine >= 0.25 to each query):
    // exhaustive by definition, so the ENTIRE result is value-checked
    // against the DuckDB list-arithmetic mirror — no contract indirection.
    "ann_range_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.rangeSearch(emb, emb.where("vec_id < 8"), minCosine = 0.25)
    }),

    // MMR diverse top-k: greedy redundancy-penalized re-rank of each
    // query's exact top-30 (λ=0.7). Greedy state is per-query and
    // map-side, so the contract pins the structural invariants: exact
    // query count, k picks each, first pick ≡ exact top-1, and the
    // non-increasing mmr_score sequence the greedy guarantees.
    "ann_mmr_topk" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val mmr = pin(Ann.mmrTopK(emb, emb.where("vec_id < 8"),
        k = 10, m = 30, lambda = 0.7).cache())
      val nQ = mmr.select("query_id").distinct().count()
      val kEach = mmr.groupBy("query_id").count()
        .where(col("count") =!= 10).count() == 0L
      val top1 = bruteBaseline(s, dir).where(col("rank") === 1)
        .select(col("query_id"), col("nn_id").as("top1"))
      val firstOk = mmr.where(col("mmr_rank") === 1)
        .join(top1, "query_id").where(col("nn_id") =!= col("top1")).count() == 0L
      val monotone = mmr
        .withColumn("prev", lag(col("mmr_score"), 1)
          .over(Window.partitionBy("query_id").orderBy("mmr_rank")))
        .where(col("prev").isNotNull && col("mmr_score") > col("prev"))
        .count() == 0L
      Seq((nQ, kEach, firstOk, monotone))
        .toDF("n_queries", "k_each", "first_is_top1", "scores_nonincreasing")
    }),

    // Corpus k-NN graph through the IVF cells (probes equi-joined to cell
    // members — never a corpus broadcast, never all-pairs). Sampled nodes
    // are served exactly like ann_ivf_topk under the shared quantizer, so
    // the same recall bound applies; rescoring and rank validity are
    // checked over the whole graph.
    "ann_knn_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      annContract(s, Ann.knnGraph(emb, k = 10,
          centroids = Some(corpusCentroids(s, dir))),
        dir, ContractBounds.annIvfRecall)
    }),

    // Incremental IVF index maintenance: the SESSION-SHARED store (built
    // on 2/3 of the corpus, remaining third appended through the STORED
    // centroids — pure insert, no existing file read or rewritten, both
    // commits through the OCC manifest), served top-k. Contract: the
    // append-maintained index returns EXACTLY what a batch assignment of
    // the full corpus with the same centroids returns (the maintenance
    // claim — and it holds whether or not ann_ivf_compact has already
    // collapsed the shared store's generations, since compaction never
    // changes row content), every score is an exact re-ranked cosine,
    // ranks are valid. n_corpus pins the fixture.
    "ann_ivf_store" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfStore(s, dir)
      val queries = emb.where("vec_id < 8")
      val fromStore = pin(Ann.ivfStoreTopK(s, path, queries, k = 10).cache())
      val cents = Ann.readCentroids(s, path)
      val batch = Ann.ivfTopKFromAssigned(
        Ann.assignCells(emb, cents), cents, queries, k = 10)
      val same = multisetEquals(fromStore, batch,
        Seq("query_id", "nn_id", "cosine", "rank"))
      val st = annStats(s, fromStore, dir)
      Seq((emb.count(), same, st.mismatches == 0L, st.rankBad == 0L))
        .toDF("n_corpus", "incremental_equals_batch", "rescore_exact", "ranks_valid")
    }),

    // Persisted IVF-PQ index (Jégou et al., TPAMI 2011 — the FAISS IVFPQ
    // layout): corpus persists as PQ CODES routed into IVF cells, both
    // quantizers riding in reserved buckets of the same manifest version.
    // Build 2/3 + O(delta) append, then serve = manifest-pruned code
    // read → ADC shortlist → exact refine against the flat fixture (the
    // standard IVFPQ + flat-refine topology). Contract: store holds one
    // code row per servable vector, recall vs brute over the bound,
    // refined cosines exactly reproduce the independent recompute, ranks
    // contiguous.
    "ann_ivfpq_store" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfPqStore(s, dir)
      val served = pin(Ann.ivfPqStoreTopK(s, path, emb.where("vec_id < 8"),
        k = 10, refineFrom = Some(emb)).cache())
      val st = annStats(s, served, dir)
      val nRows = Ann.readIvfPqStore(s, path).count()
      val nServable = emb.where(Ann.cosineUsable(col("embedding"))).count()
      Seq((emb.count(), nRows == nServable,
           st.recall >= ContractBounds.annIvfPqRecall,
           st.mismatches == 0L, st.rankBad == 0L))
        .toDF("n_corpus", "store_complete", "recall_ok", "rescore_exact",
          "ranks_valid")
    }),

    // FILTERED vector search — top-k among the ids matching a metadata
    // predicate (here: even vec_id), the capability every serving index
    // pairs with filters. The allowed-id semi-join restricts CANDIDATES
    // before the rank, so the result is the true top-k OF THE ALLOWED
    // SUBSET (not a post-filtered top-k that under-returns when the
    // global winners are disallowed). Contract: recall vs the exact
    // filtered brute over the bound, no disallowed id ever surfaces,
    // scores exactly reproduce the independent recompute, ranks
    // contiguous.
    "ann_filtered_topk" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val allowed = emb.where("vec_id % 2 = 0").select("vec_id")
      val queries = emb.where("vec_id < 8")
      val served = pin(Ann.ivfStoreTopK(s, sharedIvfStore(s, dir), queries,
        k = 10, allowedIds = Some(allowed)).cache())
      // pinned: the filtered brute baseline feeds BOTH the count and the
      // recall join — uncached it re-ran the cross-join rank per consumer
      // (optimization round 14, guide §1.2: don't compute things twice)
      val brute = pin(Ann.bruteTopK(emb.where("vec_id % 2 = 0"), queries, k = 10)
        .select("query_id", "nn_id").cache())
      val nBrute = brute.count()
      val hit = served.select("query_id", "nn_id")
        .join(brute, Seq("query_id", "nn_id")).count()
      pin.release(brute)
      val disallowed = served.where(col("nn_id") % 2 =!= 0).count()
      val asD = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))
      val mismatches = served
        .join(emb.select(col("vec_id").as("nn_id"), col("embedding").as("ev")), "nn_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
        .where(col("cosine") =!=
          round(Ann.cosine(asD(col("ev")), asD(col("qv"))), 4)).count()
      val rankBad = served.withColumn("rk2", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)))
        .where(col("rank") =!= col("rk2")).count()
      Seq((queries.count(),
          hit.toDouble / math.max(nBrute, 1L) >= ContractBounds.annFilteredRecall,
          disallowed == 0L, mismatches == 0L, rankBad == 0L))
        .toDF("n_queries", "recall_ok", "only_allowed", "rescore_exact",
          "ranks_valid")
    }),

    // Keyed DELETE from a persisted vector index — the curation step
    // after dedup/decontamination/takedown flags rows. Cell-routed: the
    // delete keys locate their cells via a column-pruned projection
    // scan, then ONLY those cells rewrite through the OCC manifest
    // (O(touched cells), never a full rewrite); pre-delete versions stay
    // time-travel-readable. Runs on a PRIVATE store so the session-shared
    // one keeps its lifecycle for the other contracts — an O(files)
    // MANIFEST CLONE of the shared store (hardlinked immutable data
    // files, copied manifests), not a from-scratch rebuild: the clone is
    // content-identical by construction and costs metadata, not a KMeans
    // fit + corpus write (round-12 bench: the private build dominated
    // this query's 13.3 s). Clone-then-mutate isolation (the source
    // store stays byte-identical) is pinned in IOSpec.
    // Contract: the surviving row count is SQL-exact; deleted ids never
    // surface in rows or serves; the post-delete serve EQUALS a batch
    // assignment of the surviving corpus under the same centroids; the
    // pre-delete version still reads complete.
    "ann_store_delete" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = graft.Sweep.ephemeral(
        s"/root/repo/target/qtmp/ivf_delete_${storeRunId.incrementAndGet()}")
      graft.io.IO.cloneStore(s, sharedIvfStore(s, dir), path)
      val preVersion = graft.io.IO.storeVersions(s, path).last
      val nServable = emb.where(Ann.cosineUsable(col("embedding"))).count()
      Ann.deleteFromVectorStore(s, path, emb.where("vec_id % 5 = 1"))
      val rows = pin(Ann.readIvfStore(s, path).cache())
      val nAfter = rows.count()
      val deletedLeft = rows.where(col("nn_id") % 5 === 1).count()
      pin.release(rows)
      val queries = emb.where("vec_id < 8")
      val served = Ann.ivfStoreTopK(s, path, queries, k = 10)
      val cents = Ann.readCentroids(s, path)
      val batch = Ann.ivfTopKFromAssigned(
        Ann.assignCells(emb.where("vec_id % 5 != 1"), cents), cents,
        queries, k = 10)
      val same = multisetEquals(served, batch,
        Seq("query_id", "nn_id", "cosine", "rank"))
      val preRows = graft.io.IO.readPartitionedStoreAt(s, path, preVersion)
        .where(col("nn_id") >= 0).count()
      Seq((nAfter, deletedLeft == 0L, same, preRows == nServable))
        .toDF("n_after", "deleted_gone", "serve_matches_rebuild",
          "history_preserved")
    }),

    // Recall-vs-nProbe curve — the tuning report every IVF deployment
    // runs before picking its probe budget ("what nProbe buys recall
    // X?"), served from the session-shared store against the memoized
    // exact brute baseline. Two structural theorems make it a crisp
    // contract rather than a loose benchmark: (1) candidates at nProbe p
    // are a SUBSET of candidates at p' > p, and both rankings use the
    // same total order (rounded cosine desc, id asc), so recall vs the
    // brute top-k is MONOTONE non-decreasing in nProbe; (2) probing ALL
    // cells makes the candidate set the entire servable corpus, so the
    // served top-k must equal the brute top-k EXACTLY — scores, ranks
    // and all. Plus the probed measured floor at the default budget.
    "ann_probe_curve" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfStore(s, dir)
      val queries = emb.where("vec_id < 8")
      val nCells = graft.io.IO.storeBuckets(path) - 1
      val brute = pin(bruteBaseline(s, dir).select("query_id", "nn_id").cache())
      val nBrute = brute.count()
      // ONE full-probe candidates pass; each measured point is a window
      // prefix of it (identical rows to ivfStoreTopK at that nProbe — the
      // nesting theorem this very contract states), not a fresh
      // probe/read/rank pipeline.
      val cands = pin(Ann.ivfStoreProbeCandidates(s, path, queries, nCells)
        .localCheckpoint())
      def recallAt(p: Int): Double = {
        val hit = Ann.topKAt(cands, Ann.Knob.Probe, k = 10, p)
          .select("query_id", "nn_id")
          .join(brute, Seq("query_id", "nn_id")).count()
        hit.toDouble / math.max(nBrute, 1L)
      }
      val curve = Seq(1, 2, 4).map(recallAt)
      val full = Ann.topKAt(cands, Ann.Knob.Probe, k = 10, nCells)
      val fullEq = multisetEquals(full,
        Ann.bruteTopK(emb, queries, k = 10),
        Seq("query_id", "nn_id", "cosine", "rank"))
      // full-probe recall is 1.0 by theorem (2), so the monotone chain
      // checks the measured points against each other and against 1.0
      val monotone = (curve :+ 1.0).sliding(2).forall(w => w(0) <= w(1))
      Seq((queries.count(), monotone,
           curve.last >= ContractBounds.annIvfRecall, fullEq))
        .toDF("n_queries", "recall_monotone_in_probes",
          "recall_at_default_ok", "full_probe_equals_brute")
    }),

    // CLOSED tuning loop: the measured recall-vs-nProbe curve
    // PERSISTS in the store (Ann.tuneProbe → _graft_probe_curve sidecar,
    // stamped with the manifest version it measured) and the serve
    // resolves a RECALL TARGET against it instead of a hardcoded probe
    // count — a deployment states "recall ≥ 0.9"; the store knows what
    // that costs. The tune's exact baseline is the store's own
    // full-probe serve (≡ brute on the servable corpus by theorem), so
    // the loop needs no external oracle. Contract: the persisted curve
    // is monotone non-decreasing (probed candidate sets are nested under
    // one total order), its full-probe point is exactly 1.0, the
    // recall-target serve's measured recall against the memoized exact
    // brute baseline meets the target (guaranteed by the resolve rule:
    // smallest measured probe meeting it, else the full-probe point),
    // and the curve is CURRENT (tuned against the live manifest version
    // — the re-tune-after-drift signal is curveStale).
    "ann_tuned_serve" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfStore(s, dir)
      val queries = emb.where("vec_id < 8")
      // bounded collect: ≤ log2(nCells)+1 grid points (memoized — the
      // hybrid serve resolves against the same persisted point)
      val curve = sharedIvfCurve(s, dir)
      val monotone = curve.length >= 2 &&
        curve.sliding(2).forall(w => w(0)._2 <= w(1)._2)
      val target = 0.9
      val served = Ann.ivfStoreTopKAtRecall(s, path, queries, k = 10,
        minRecall = target)
      val brute = bruteBaseline(s, dir).select("query_id", "nn_id")
      val nBrute = brute.count()
      val hit = served.select("query_id", "nn_id")
        .join(brute, Seq("query_id", "nn_id")).count()
      Seq((queries.count(), monotone, curve.last._2 == 1.0,
           hit.toDouble / math.max(nBrute, 1L) >= target,
           !Ann.curveStale(s, path, Ann.Knob.Probe)))
        .toDF("n_queries", "curve_monotone", "full_probe_recall_one",
          "serve_meets_target", "curve_current")
    }),

    // CLOSED tuning loop for the IVF-PQ tier: the PQ layout's
    // own recall knob is the ADC SHORTLIST WIDTH (refine·k survivors of
    // the code-domain rank reach the exact flat re-rank) — nProbe tunes
    // on the flat tier per the recorded f4d0d13 decision. Ann.tuneRefine
    // measures recall-vs-refine at a fixed probe budget against the
    // store's own never-binding-shortlist serve (exact within the probed
    // cells BY THEOREM — no external oracle), persists the curve in the
    // store (_graft_refine_curve, version-stamped, k and nProbe recorded
    // and REQUIRED to match at serve), and ivfPqStoreTopKAtRecall
    // resolves a recall target against it. Contract: curve monotone
    // (window-prefix: a wider shortlist is a superset under one total
    // ADC order, and every baseline member present in a shortlist
    // survives the exact re-rank), theorem point exactly 1.0, the
    // recall-target serve meets the target against the recomputed
    // exact-in-probe baseline, and the curve is CURRENT.
    "ann_pq_tuned_serve" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfPqStore(s, dir)
      val queries = emb.where("vec_id < 8")
      val curve = sharedPqRefineCurve(s, dir)
      val monotone = curve.length >= 2 &&
        curve.sliding(2).forall(w => w(0)._2 <= w(1)._2)
      val target = 0.9
      // the recall-target serve and the theorem-point baseline share ONE
      // ADC + flat-refine candidates pass — each is a crk-prefix re-rank
      // of it (row-identical to the corresponding ivfPqStoreTopK serve;
      // see ivfPqRefineCandidates), under the same stale-curve check
      // ivfPqStoreTopKAtRecall runs
      Ann.requireCurrent(s, path, Ann.Knob.Refine)
      val cands = pin(Ann.ivfPqRefineCandidates(s, path, queries, nProbe = 4,
        refineFrom = emb).localCheckpoint())
      val served = Ann.topKAt(cands, Ann.Knob.Refine, k = 10,
        Ann.resolveCurve(s, path, Ann.Knob.Refine, target, forK = 10, forProbe = 4))
      // exact-in-probe baseline at the theorem point (the largest
      // measured refine — its shortlist cut cannot bind)
      val baseline = pin(Ann.topKAt(cands, Ann.Knob.Refine, k = 10, curve.last._1)
        .select("query_id", "nn_id").localCheckpoint())
      val nBase = baseline.count()
      val hit = served.select("query_id", "nn_id")
        .join(baseline, Seq("query_id", "nn_id")).count()
      Seq((queries.count(), monotone, curve.last._2 == 1.0,
           hit.toDouble / math.max(nBase, 1L) >= target,
           !Ann.curveStale(s, path, Ann.Knob.Refine)))
        .toDF("n_queries", "curve_monotone", "theorem_point_recall_one",
          "serve_meets_target", "curve_current")
    }),

    // RE-EMBED upsert on a persisted vector index — the maintenance op a
    // new encoder version needs: existing ids are REPLACED wherever they
    // live (a re-embedded vector may route to a different cell), novel
    // ids insert, all in ONE atomic manifest commit. Delta here: every
    // vec_id % 7 = 3 vector re-embeds as its REVERSE (deterministic,
    // norm-preserving, direction-changing — real cell moves), and every
    // vec_id % 31 = 0 vector also arrives under a novel id. Contract:
    // the surviving row count is SQL-exact; the store's (id, cell)
    // content equals a batch assignment of the UPDATED corpus under the
    // stored centroids; exactly one version was committed; the
    // pre-upsert version still reads the original corpus.
    "ann_store_upsert" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // private mutation target via O(files) clone of the shared store —
      // see ann_store_delete for the rationale
      val path = graft.Sweep.ephemeral(
        s"/root/repo/target/qtmp/ivf_upsert_${storeRunId.incrementAndGet()}")
      graft.io.IO.cloneStore(s, sharedIvfStore(s, dir), path)
      val preVersions = graft.io.IO.storeVersions(s, path)
      val nServable = emb.where(Ann.cosineUsable(col("embedding"))).count()
      val reembed = emb.where("vec_id % 7 = 3")
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val novel = emb.where("vec_id % 31 = 0")
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
      Ann.upsertVectorStore(reembed.unionByName(novel), path)
      val cents = Ann.readCentroids(s, path)
      val updated = emb.where("vec_id % 7 != 3")
        .select("vec_id", "embedding")
        .unionByName(reembed).unionByName(novel)
      val expect = Ann.assignCells(
        updated.where(Ann.cosineUsable(col("embedding"))), cents)
        .select("nn_id", "cell")
      val got = pin(Ann.readIvfStore(s, path).select("nn_id", "cell").cache())
      val nAfter = got.count()
      val same = multisetEquals(got, expect, Seq("nn_id", "cell"))
      pin.release(got)
      val postVersions = graft.io.IO.storeVersions(s, path)
      val preRows = graft.io.IO.readPartitionedStoreAt(s, path, preVersions.last)
        .where(col("nn_id") >= 0).count()
      Seq((nAfter, same,
           postVersions.size == preVersions.size + 1,
           preRows == nServable))
        .toDF("n_after", "content_equals_updated_corpus", "single_commit",
          "history_preserved")
    }),

    // Staleness report for the append-maintained vector indexes — the
    // "centroids age; refresh = rebuild" trade surfaced as a queryable
    // signal (appended fraction + per-cell distance-to-centroid drift
    // vs the build version, through manifest time travel). Runs over
    // BOTH session-shared stores (full-precision IVF and codes-at-rest
    // IVF-PQ, whose distances decode from the residual codes). The
    // lifecycle is known exactly — build = the servable 2/3, append =
    // the rest — so the row accounting is pinned; the in-distribution
    // append must trip at most the probed number of small-cell drift
    // flags (ContractBounds), and heavy REAL drift tripping the flag is
    // pinned in AnnSpec.
    "ann_store_staleness" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val usable = pin(emb.where(Ann.cosineUsable(col("embedding"))).cache())
      val nBuild = usable.where("vec_id % 3 != 2").count()
      val nAll = usable.count()
      pin.release(usable)
      def summarize(report: org.apache.spark.sql.DataFrame) = report
        .agg(sum("n_build"), sum("n_now"),
          sum(when(col("drifted") && col("n_build") > 0, 1).otherwise(0)),
          sum(when(col("appended_frac") < 0 || col("appended_frac") > 1, 1)
            .otherwise(0)))
        .as[(Long, Long, Long, Long)].head()
      val ivf = summarize(Ann.vectorStoreStaleness(s, sharedIvfStore(s, dir)))
      val pq = summarize(Ann.vectorStoreStaleness(s, sharedIvfPqStore(s, dir)))
      Seq((nAll,
           ivf._1 == nBuild && ivf._2 == nAll,
           pq._1 == nBuild && pq._2 == nAll,
           ivf._4 == 0L && pq._4 == 0L,
           ivf._3 <= ContractBounds.annStalenessDriftCells &&
             pq._3 <= ContractBounds.annStalenessDriftCells))
        .toDF("n_servable", "ivf_rows_match_lifecycle",
          "pq_rows_match_lifecycle", "fracs_in_unit_interval",
          "in_distribution_drift_bounded")
    }),

    // Staleness-DRIVEN refresh: the op the staleness report
    // exists to trigger, closing the "centroids age; refresh = rebuild"
    // loop. On a private clone of the shared store, every corpus vector
    // is re-embedded FAR out of distribution (×5 + 3, novel ids) and
    // appended through the stored (now badly aged) centroids; refresh
    // re-fits the quantizer on the CURRENT corpus and re-routes every
    // row as ONE atomic manifest commit, then advances the staleness
    // baseline to the refresh version. Contract: the refresh gate
    // respects its threshold (a high drifted-cells bound → no-op, no
    // version committed), the default gate fires on the planted drift,
    // exactly one version commits, the post-refresh report is clean
    // (baseline = the corpus the new quantizer was actually fit on),
    // and the refreshed serve EQUALS a batch assignment of the current
    // corpus under the refreshed centroids.
    "ann_store_refresh" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = graft.Sweep.ephemeral(
        s"/root/repo/target/qtmp/ivf_refresh_${storeRunId.incrementAndGet()}")
      graft.io.IO.cloneStore(s, sharedIvfStore(s, dir), path)
      val drift = emb
        .select((col("vec_id") + 2000000000L).as("vec_id"),
          transform(col("embedding"),
            x => x * lit(5.0f) + lit(3.0f)).as("embedding"))
      Ann.appendVectorStore(drift, path)
      // gate respected: with an unreachable drifted-cells bound the
      // refresh declines (and commits nothing)
      val nV0 = graft.io.IO.storeVersions(s, path).size
      val gateOk = !Ann.refreshIvfStore(s, path, maxDriftedCells = 1000000L) &&
        graft.io.IO.storeVersions(s, path).size == nV0
      val refreshed = Ann.refreshIvfStore(s, path)
      val singleCommit = graft.io.IO.storeVersions(s, path).size == nV0 + 1
      val cleared = Ann.vectorStoreStaleness(s, path)
        .where(col("drifted") && col("n_now") > 0).count() == 0L
      val queries = emb.where("vec_id < 8")
      val served = Ann.ivfStoreTopK(s, path, queries, k = 10)
      val cents = Ann.readCentroids(s, path)
      val batch = Ann.ivfTopKFromAssigned(
        Ann.assignCells(emb.select("vec_id", "embedding")
          .unionByName(drift), cents), cents, queries, k = 10)
      val same = multisetEquals(served, batch,
        Seq("query_id", "nn_id", "cosine", "rank"))
      Seq((emb.count(), gateOk, refreshed, singleCommit, cleared, same))
        .toDF("n_corpus", "gate_respected", "refreshed", "single_commit",
          "drift_cleared", "serve_matches_rebuild")
    }),

    // Store compaction (the OPTIMIZE step an append-maintained index
    // needs): the shared store's build + append leave every cell spread
    // over two generations; compaction collapses exactly those cells
    // through the SAME optimistic manifest loop as every merge (no
    // racing reader can see a cell mid-rewrite), and the contract pins
    // that served results are identical pre/post while the per-cell file
    // count shrinks. The pre-compaction manifest version stays
    // time-travel-readable (pinned in AnnSpec).
    "ann_ivf_compact" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      var path = sharedIvfStore(s, dir)
      if (!Ann.ivfStoreFragmented(s, path)) {
        // rerun corner (possible only outside the one-run-per-query
        // bench/verify protocol): an earlier call already compacted the
        // shared store — rebuild a private fragmented store so the
        // contract still exercises a real compaction
        path = buildSplitIvfStore(s, dir, graft.Sweep.ephemeral(
          s"/root/repo/target/qtmp/ivf_compact_${storeRunId.incrementAndGet()}"))
      }
      val queries = emb.where("vec_id < 8")
      // materialize the pre-compaction serve — not because files are
      // rewritten under it (the manifest protects readers) but because
      // the comparison below must not re-resolve to the POST-compaction
      // manifest version
      val served = pin(Ann.ivfStoreTopK(s, path, queries, k = 10).localCheckpoint())
      val stats = Ann.compactIvfStore(s, path)
      val reduced = (stats.where(col("files_after") >= col("files_before"))
        .count() == 0L) && stats.count() > 0L
      val after = Ann.ivfStoreTopK(s, path, queries, k = 10)
      val delta = served.unionByName(after)
        .groupBy("query_id", "nn_id", "cosine", "rank")
        .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
      val nRows = Ann.readIvfStore(s, path).count()
      // the store holds exactly the cosine-servable rows (writeIvfStore
      // drops null/zero-norm vectors); n_corpus still pins the raw fixture
      val nServable = emb.where(Ann.cosineUsable(col("embedding"))).count()
      Seq((emb.count(), nRows == nServable, delta == 0L, reduced))
        .toDF("n_corpus", "store_complete", "served_identical", "files_reduced")
    }),

    // LSH-bucketed ANN (the scale path), emitted as its contract vs the
    // exact brute-force baseline (bucket membership is seed-dependent; the
    // re-ranked scores are exact and checked pairwise against a full exact
    // scoring of the returned candidates).
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      annContract(s, Ann.lshTopK(emb, emb.where("vec_id < 8"), k = 10),
        dir, ContractBounds.annLshRecall)
    }),

    // IVF ANN: KMeans coarse quantizer + multi-probe exact re-rank — same
    // contract form vs brute.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      annContract(s, Ann.ivfTopK(emb, emb.where("vec_id < 8"), k = 10,
          centroids = Some(corpusCentroids(s, dir))),
        dir, ContractBounds.annIvfRecall)
    }),

    // PQ ANN: product-quantized codes (m bytes per vector at rest) ranked
    // by asymmetric-distance lookup, exact re-rank of the refine·k
    // shortlist — the compression tier of the ANN family. Same contract
    // form vs brute (codebooks are seeded fit state).
    "ann_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      annContract(s, Ann.pqTopK(emb, emb.where("vec_id < 8"), k = 10,
          codebooks = Some(pqCodebooks(s, dir))),
        dir, ContractBounds.annPqRecall)
    }),

    // Corpus clustering report (topic-ish structure of the embedding
    // corpus): per-cell sizes + mean member-to-centroid cosine. Cell
    // identity is model state, so the contract: every non-null vector is
    // assigned exactly once (SQL-computable total), cell count bounded,
    // coherence values valid cosines. Clustering GAIN is property-tested
    // on planted clusters in AnnSpec.
    "ann_cluster_report" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val rep = pin(Ann.clusterReport(Tables.embeddings(s, dir),
        precomputed = Some(corpusCentroids(s, dir))).cache())
      val nAssigned = rep.agg(coalesce(sum("n_members"), lit(0L)))
        .as[Long].head()
      val nCells = rep.count()
      val cohValid = rep.where(col("mean_cosine") < -1.0
        || col("mean_cosine") > 1.0 || col("mean_cosine").isNull).count() == 0L
      Seq((nAssigned, nCells >= 1L && nCells <= 16L, cohValid))
        .toDF("n_assigned", "cells_bounded", "coherence_valid")
    }),

    // Int8 scalar quantization of the embedding store (4× smaller at rest)
    // with reconstruction-quality QA columns — full value oracle including
    // the quantized codes themselves.
    "ann_quantize" -> ((s, dir) => Ann.quantize(Tables.embeddings(s, dir))),

    // Exact top-k served from the quantized store (full-precision queries
    // against dequantized int8 corpus) — deterministic, so the entire
    // search result is value-checked, not just a recall contract.
    "ann_quant_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.quantTopK(emb, emb.where("vec_id < 8"), k = 10)
    }),

    // Token counting: whitespace + alnum + BPE-ish sub-token counts.
    "tx_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),

    // Quality scoring signals.
    "tx_quality" -> ((s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir))),

    // PII redaction (emails / IPv4 / intl phone → typed placeholders). The
    // fixture corpus carries no natural PII, so deterministic synthetic PII
    // is woven into each document — by the SAME expression on the oracle
    // side — making the regex replacement path itself hash-verified
    // cross-engine rather than trivially matching untouched text.
    "tx_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(
        Tables.documents(s, dir).select(col("doc_id"),
          withSyntheticPii(col("text"), col("doc_id")).as("text")))),

    // Corpus-fitted unigram LM score — the CCNet-style quality filter
    // (mean token log-probability under the corpus's own unigram model).
    "tx_unigram_lp" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir))),

    // BM25 lexical retrieval over a fixed query-term set — the keyword
    // complement of the ann_* embedding family (lexical decontamination /
    // targeted slicing). Fully deterministic arithmetic over integer
    // counts, so the whole score column value-checks against the DuckDB
    // recomputation.
    "tx_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), bm25Terms)),

    // Persisted BM25 inverted index — the SERVE path of lexical retrieval
    // (the retrieval analog of ann_ivf_store): term-bucketed postings +
    // atomic stats sidecar rows, built on 2/3 of the corpus and
    // maintained to full coverage by an O(delta) append, then scored from
    // a read of ONLY the query terms' buckets. The oracle is the SAME
    // full-scan BM25 recomputation as tx_bm25 — pruned-serve scores must
    // equal full-scan scores exactly, df/avgdl/n_docs included.
    "tx_bm25_store" -> ((s, dir) =>
      Bm25Store.scores(s, sharedBm25Store(s, dir), bm25Terms)),

    // Staleness report for the persisted BM25 index — the lexical
    // sibling of ann_store_staleness, with the structural difference the
    // report itself documents: BM25 scores do NOT age under append (the
    // serve sums the stats-delta rows, so appended docs score exactly as
    // a rebuild would — that is tx_bm25_store's oracle), so what the
    // report surfaces is growth accounting (exactly SQL-computable from
    // the lifecycle) and layout fragmentation pressure (the compaction
    // decision's inputs). Cost: two pruned stats-bucket reads + a
    // manifest scan — O(appends), never O(postings).
    "tx_bm25_staleness" -> ((s, dir) => {
      import s.implicits._
      val r = Bm25Store.staleness(s, sharedBm25Store(s, dir))
        .as[(Long, Long, Double, Long, Long)].head()
      // build = 2/3 slice, ONE append of the rest: some posting bucket
      // must span exactly two generations, none more
      Seq((r._1, r._2, r._3, r._4 >= 1L, r._5 == 2L))
        .toDF("n_docs_build", "n_docs_now", "appended_frac",
          "has_fragmentation", "gens_bounded")
    }),

    // BATCH lexical serve (round-13): many queries scored in ONE pruned
    // read of the persisted index — the serving shape a hybrid-retrieval
    // or decontamination loop needs at scale, where a Spark job PER query
    // makes the driver the bottleneck regardless of per-serve speed. The
    // batch's probed buckets collect once (bounded by the store's √n
    // bucket count, not the batch size); per-posting arithmetic and the
    // per-doc query-term-ordered fold are identical to the single serve.
    // FULL-VALUE oracle: DuckDB recomputes every query's complete score
    // set from scratch and the driver hash-compares all rows — including
    // the no-hit query's absence.
    "tx_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      Bm25Store.scoresBatch(s, sharedBm25Store(s, dir),
        bm25BatchQueries.toDF("query_id", "terms"))
    }),

    // Keyed DELETE + re-index UPSERT on the persisted BM25 index
    // (round-13) — lifecycle parity with the vector stores: takedown ids
    // lose every posting (spread across many term buckets — the locate
    // is a column-pruned doc_id scan) plus a compensating stats delta in
    // ONE commit; edited docs re-tokenize and their postings are
    // REPLACED wherever they live, novel docs insert, stats adjust, all
    // in ONE atomic commit. On a private O(files) clone of the shared
    // store. Token-bearing docs only (the aggregate-stats layout's
    // documented contract). Contract: served scores over the probe
    // terms (incl. a term only the re-indexed texts contain) EQUAL a
    // from-scratch rebuild on the updated corpus BIT-FOR-BIT — n_docs,
    // df, avgdl, per-posting arithmetic and fold order all included;
    // deleted ids leave no row; exactly the expected commits landed;
    // the pre-mutation version still reads the original postings.
    "tx_bm25_upsert" -> ((s, dir) => graft.Sweep.pinned { pin =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val path = graft.Sweep.ephemeral(
        s"/root/repo/target/qtmp/bm25_upsert_${storeRunId.incrementAndGet()}")
      graft.io.IO.cloneStore(s, sharedBm25Store(s, dir), path)
      val preVersion = graft.io.IO.storeVersions(s, path).last
      val nV0 = graft.io.IO.storeVersions(s, path).size
      // the three mutation frames are PINNED: each is consumed by ~4
      // downstream jobs (the mutation itself, the rebuild oracle's
      // anti-join, the leftover/time-travel broadcasts, the counts),
      // and re-deriving them re-tokenizes the corpus per consumer
      val tokenful = docs.where(size(TextAnalysis.tokens(col("text"))) > 0)
      val deleted = pin(tokenful.where("doc_id % 11 = 5").localCheckpoint())
      val reindexed = pin(tokenful.where("doc_id % 7 = 3 and doc_id % 11 != 5")
        .select(col("doc_id"),
          concat(col("text"), lit(" graftupd graftupd")).as("text"))
        .localCheckpoint())
      val novel = pin(tokenful.where("doc_id % 31 = 0")
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        .localCheckpoint())
      val nDeleted = deleted.count()
      val nUpserted = reindexed.count() + novel.count()
      Bm25Store.delete(s, path, deleted.select("doc_id"))
      Bm25Store.upsert(reindexed.unionByName(novel), path)
      // independent oracle: the FULL-SCAN BM25 recompute over the updated
      // corpus — a different implementation entirely (per-term projection
      // + wide pivot, TextAnalysis.bm25) whose bit-for-bit parity with
      // the pruned serve is the tx_bm25_store contract; cheaper AND more
      // independent than building a second store to compare against
      val updated = docs
        .join(deleted.select("doc_id")
            .unionByName(reindexed.select("doc_id")),
          Seq("doc_id"), "left_anti")
        .unionByName(reindexed).unionByName(novel)
      val terms = bm25Terms :+ "graftupd"
      val same = multisetEquals(
        Bm25Store.scores(s, path, terms),
        TextAnalysis.bm25(updated, terms),
        Seq("doc_id", "n_hit_terms", "bm25"))
      // stats rows carry doc_id = -1, so a doc_id join sees postings only
      val leftover = graft.io.IO.readPartitionedStore(s, path)
        .join(broadcast(deleted.select("doc_id")), Seq("doc_id")).count()
      val commits = graft.io.IO.storeVersions(s, path).size - nV0
      val expectCommits = (if (nDeleted > 0) 1 else 0) +
        (if (nUpserted > 0) 1 else 0)
      val preLeft = graft.io.IO.readPartitionedStoreAt(s, path, preVersion)
        .join(broadcast(deleted.select("doc_id")), Seq("doc_id")).count()
      Seq((nDeleted, nUpserted, same, leftover == 0L,
           commits == expectCommits, nDeleted == 0L || preLeft > 0L))
        .toDF("n_deleted", "n_upserted", "serve_equals_rebuild",
          "deleted_gone", "commits_expected", "history_preserved")
    }),

    // Hybrid retrieval: BM25 lexical top-50 fused with cosine semantic
    // top-50 (query = vec_id 0) via reciprocal-rank fusion — the standard
    // combiner when score scales are incomparable. The LEXICAL arm is
    // SERVED from the session's persisted BM25 store (the index
    // tx_bm25_store just lifecycle-verified): a pruned read of the query
    // terms' buckets, not a corpus rescan — the arm a hybrid serving
    // loop actually runs at 100 TB. Store scores equal full-scan scores
    // exactly (the tx_bm25_store contract), so the full-scan oracle is
    // unchanged. Both lists are top-m bounded by their producers
    // (TakeOrdered / per-query window), so the global rank window runs
    // over 50 rows, and fusion exchanges ≤ 100 tiny rows however large
    // the corpus.
    "tx_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = 50
      val lex = Bm25Store.topK(s, sharedBm25Store(s, dir), bm25Terms, k = m)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select("doc_id", "rank")
      val emb = Tables.embeddings(s, dir)
      val sem = Ann.bruteTopK(emb, emb.where("vec_id = 0"), k = m)
        .select(col("nn_id").as("doc_id"), col("rank"))
      Ann.rrfFuse(Seq(lex, sem))
    }),

    // HYBRID SERVE over BOTH persisted indexes (round-14): a query BATCH
    // answered end-to-end from the two indexes the engine maintains — the
    // lexical arm is ONE pruned read of the BM25 store for the whole
    // batch (Bm25Store.topKBatch), the semantic arm a RECALL-TARGET serve
    // of the persisted IVF store resolved against its measured
    // _graft_probe_curve operating point (probed-cell pruned read), fused
    // per query by reciprocal-rank fusion. This is the serving shape the
    // reference's inference path maps to at 100 TB: no corpus rescan on
    // either arm, driver work bounded by bucket/cell counts, one plan for
    // the whole batch. FULL-VALUE oracle: the semantic arm serves at
    // minRecall = 1.0, which resolves to an operating point whose
    // measured recall over the tune set (⊇ this batch's queries) is
    // exactly 1.0 — by the curve's full-probe theorem point such a serve
    // EQUALS the brute top-k, so DuckDB recomputes both arms from scratch
    // and every fused row hash-compares. Query 2's term misses the corpus
    // (lexical arm absent, n_lists = 1 rows); ids are shared between
    // documents and embeddings as in tx_rrf_fusion.
    "tx_hybrid_serve" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      sharedIvfCurve(s, dir) // ensure the persisted operating point exists
      val lex = Bm25Store.topKBatch(s, sharedBm25Store(s, dir),
          bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id"), col("rank"))
      val sem = Ann.ivfStoreTopKAtRecall(s, sharedIvfStore(s, dir),
          emb.where("vec_id in (0, 1, 2)"), k = 10, minRecall = 1.0)
        .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
      Ann.rrfFuseBatch(Seq(lex, sem))
        .withColumn("fused_rank", row_number().over(Window
          .partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("int"))
    }),

    // BPE tokenizer training on the corpus's own word-type table, at a
    // non-toy requested depth (256 merges). The merge sequence is
    // deterministic (argmax tie-break count desc, pair asc, mirrored by
    // the oracle), so the query value-checks the type-table size and the
    // FIRST merge against DuckDB's independent pair-count-argmax over the
    // same truncated type table, plus the structural invariants of the
    // full table: the fit either reached the requested depth or genuinely
    // ran the corpus dry (no remaining pair ≥ minPairCount — the
    // tiny-vocab fixture's case), merge counts never increase, and ranks
    // are contiguous from 0. The deep merge recursion itself is not
    // SQL-expressible; BpeSpec pins it against a local reference fit.
    "tx_bpe_fit" -> ((s, dir) => {
      import s.implicits._
      val fr = bpeFit(s, dir)
      val ms = fr.merges
      val nTypes = Bpe.wordTypes(Tables.documents(s, dir)).count()
      val nonInc = ms.iterator.sliding(2).withPartial(false)
        .forall(w => w.head.pairCount >= w.last.pairCount)
      val contiguous = ms.zipWithIndex.forall { case (m, i) => m.rank == i }
      Seq((nTypes, ms.head.left, ms.head.right, ms.head.pairCount,
          ms.length == bpeDepth || fr.exhausted, nonInc, contiguous))
        .toDF("n_types", "first_left", "first_right", "first_count",
          "depth_full_or_exhausted", "counts_nonincreasing", "ranks_contiguous")
    }),

    // Encode every document with the fitted merges: greedy rank-order
    // merge loop per DISTINCT word, joined back to the token stream. The
    // per-doc word count is value-checked against the oracle; the BPE
    // token count (not SQL-replayable) is bounded per doc — at least one
    // token per word, at most chars + 1 per word (nothing ever splits
    // below characters, nothing merges across words).
    "tx_bpe_encode" -> ((s, dir) => {
      Bpe.encodedTokenCounts(Tables.documents(s, dir), bpeFit(s, dir).merges)
        .select(col("doc_id"), col("n_words"),
          (col("bpe_tokens") >= col("n_words") &&
            col("bpe_tokens") <= col("n_chars") + col("n_words"))
            .as("tokens_bounded"))
    }),

    // Model-based quality gate (CCNet/GPT-3 style): logistic model fit on
    // weak labels (corpus docs vs their deterministic degradations) over
    // the engine's own quality signals, scoring every document. Model
    // coefficients are fit state, so the query emits the contract: class
    // sizes (SQL-computable), holdout AUC >= bound, probabilities valid.
    "tx_quality_model" -> ((s, dir) => {
      import s.implicits._
      val f = qualityFit(s, dir)
      val scores = QualityModel.score(f.model, Tables.documents(s, dir))
      val nScored = scores.count()
      val inRange = scores.where(col("quality_prob") < 0.0
        || col("quality_prob") > 1.0 || col("quality_prob").isNull).count() == 0L
      Seq((f.nPos, f.nNeg, nScored, f.auc >= ContractBounds.qualityModelAuc,
          inRange))
        .toDF("n_pos", "n_neg", "n_scored", "auc_ok", "probs_in_range")
    }),

    // Seeded deterministic shuffle + sharding — the training-export
    // ordering step; reproducible by construction (pure function of
    // (seed, doc_id)), no global sort in the plan.
    "tx_shuffle_shard" -> ((s, dir) =>
      Mixing.shuffleShards(Tables.documents(s, dir), "doc_id", "train42", 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Interpolated bigram LM score — the higher-fidelity CCNet filter
    // (lambda * bigram + (1-lambda) * unigram, first token unigram-only).
    "tx_bigram_lp" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir))),

    // Sequence-length histogram: per-source log2 buckets of token counts —
    // the context-length/packing design report. Integer-exact buckets.
    "tx_length_hist" -> ((s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir))),

    // Vocabulary-coverage report: top-100 tokens with frequency rank and
    // cumulative corpus coverage — the tokenizer-design starting point.
    "tx_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), topK = 100)),

    // Training-export writer roundtrip: the shuffle-shard order
    // materialized as shard-partitioned parquet (each shard's file
    // physically sorted by position), read back and fully value-checked
    // against the same assignment SQL as tx_shuffle_shard. Per-file
    // ordering is asserted in MixingSpec.
    "tx_export_shards" -> ((s, dir) => {
      val path = graft.Sweep.ephemeral(
        s"/root/repo/target/qtmp/export_shards_${storeRunId.incrementAndGet()}")
      graft.io.IO.deletePath(path)
      Mixing.writeTrainingShards(Tables.documents(s, dir), "doc_id",
        "train42", 8, path)
      s.read.parquet(path)
        .select(col("doc_id"), col("shard").cast("int").as("shard"), col("pos"))
    }),

    // Mixture-drift report: KL(source ∥ corpus) over unigram distributions
    // — one row per source, flags lexically-outlying sources in a recipe.
    "tx_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, dir))),

    // Source balancing: at most k docs per source, chosen deterministically
    // by hash rank (prefilter + bounded window — no per-stratum full sort).
    "tx_cap_sample" -> ((s, dir) =>
      Mixing.capPerStratum(Tables.documents(s, dir), "source", "doc_id",
          k = 10, seed = "cap42")
        .select(col("doc_id"), col("source"))),

    // Temperature-scaled source mixture (alpha = 0.5): integer sqrt-weight
    // quotas over a 150-doc budget, each source filled with its quota
    // smallest seeded hashes. Quota arithmetic is BIGINT end to end, so
    // the oracle recomputes identical quotas from the data.
    "tx_temperature_mix" -> ((s, dir) =>
      Mixing.temperatureSample(Tables.documents(s, dir), "source", "doc_id",
          budget = 150L, seed = "temp42")
        .select(col("doc_id"), col("source"))),

    // Character-entropy signal (gibberish high, boilerplate low) — one
    // UDF loop per row, scan-speed, fully value-checked.
    "tx_entropy" -> ((s, dir) => TextAnalysis.charEntropy(Tables.documents(s, dir))),

    // Language-ID heuristic (marker-word overlap).
    "tx_langid" -> ((s, dir) => LangId.predict(Tables.documents(s, dir))),

    // Language-ID, trained: char-trigram multinomial naive Bayes fit on
    // the corpus's own (text, lang) labels, then training-set predict.
    // Fit is one bounded groupBy; predict is a zero-shuffle broadcast-
    // model scan. The oracle re-derives fit AND predict in SQL — a full
    // value check of the whole learner, not a contract. (The fixture's
    // text carries no real language signal — TextAnalysisSpec proves the
    // classifier beats the marker heuristic on a genuinely multilingual
    // corpus; this query pins engine-vs-oracle equivalence.)
    "tx_langid_nb" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LangId.predictNb(docs, LangId.fitNb(docs))
    }),

    // Document fingerprint (rolling polynomial hash).
    "tx_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // Corpus text normalization (NFC + control strip + whitespace collapse
    // + trim): the canonicalization pass ahead of every dedup/fingerprint
    // stage. Codegen projection end-to-end — the NFC step is the native
    // graft.functions.NfcNormalize expression, not a UDF.
    "tx_normalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("norm_text"))),

    // Segment-level exact dedup (RefinedWeb's line/paragraph-dedup pass
    // with a positional 10-token segmenter — the fixture corpus has no
    // line structure): first corpus-wide occurrence of each segment
    // survives, documents reassembled from survivors.
    "dd_segment" -> ((s, dir) =>
      Dedup.segmentDedup(Tables.documents(s, dir), segTokens = 10)),

    // Embedding-space decontamination: corpus vectors within cosine 0.3 of
    // any benchmark vector (vec_id % 13 picks the "benchmark") — the
    // paraphrase-robust complement of dd_decontam's shingle overlap. The
    // benchmark broadcasts; the corpus is screened map-side.
    "dd_semantic_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.semanticDecontaminate(
        emb.where("vec_id % 13 != 0"), emb.where("vec_id % 13 = 0"),
        threshold = 0.3)
    }),

    // Data mixing: deterministic hash-sampled per-language keep rates (the
    // "recipe" step of corpus assembly). Pure projection + filter — no
    // shuffle, no RNG state, bit-identical on any cluster size.
    "tx_mixture" -> ((s, dir) =>
      Mixing.hashSample(Tables.documents(s, dir), "doc_id", "lang",
          mixtureRates, mixtureDefaultRate)
        .select("doc_id", "lang")),

    // Repetition / degenerate-text signals (gopher-style quality filters).
    "tx_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir))),

    // Greedy token-budget packing of each source's documents into
    // fixed-capacity training sequences.
    "tx_pack" -> ((s, dir) =>
      Mixing.packBins(
          Tables.documents(s, dir)
            .select(col("source"), col("doc_id"),
              size(TextAnalysis.tokens(col("text"))).as("n_tok")),
          "source", "doc_id", "n_tok", packCapacity)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("size").as("n_tok"), col("bin"))),

    // Overlapping-window chunking (200-char windows, 150 stride) — the
    // pre-embedding split step; a scan-side generator, no shuffle.
    "tx_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir).where("doc_id < 200"))),

    // Corpus accounting: per-(lang, source) doc/token totals, exact-dup
    // rate, mean quality signal — the summary report a curation run ends
    // with. One partial-combine aggregation over a single scan pass. The
    // mean sums exact 1e-6-unit integers, NOT doubles: avg() over doubles
    // is partition-order-dependent in the last ulp, which flipped a
    // 6-decimal rounding boundary vs the oracle at sf0.01.
    "tx_corpus_report" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          size(TextAnalysis.tokens(col("text"))).as("n_tok"),
          round(TextAnalysis.alphaRatio(col("text")) * 1000000)
            .cast("long").as("alpha_micro"),
          md5(col("text")).as("h"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          countDistinct(col("h")).as("n_distinct_texts"),
          round(sum(col("alpha_micro")).cast("double") / count(lit(1)) / 1000000.0, 6)
            .as("mean_alpha_ratio"))),

    // Multimodal: metadata-only description (binary column never decoded).
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.describe(Multimodal.fromDocuments(Tables.documents(s, dir)))
        .select("asset_id", "modality", "n_bytes")),

    // Multimodal: REAL image decode — deterministic PNG/BMP files staged
    // by the fixture harness, ingested through binaryFile, width/height/
    // channels extracted by the javax.imageio header reader (no pixel
    // decode). Dims/colorspace derive from the id, so the whole decode
    // output is a full-value oracle.
    "mm_decode" -> ((s, dir) => {
      val staged = Multimodal.stageImageFiles(
        Tables.documents(s, dir).where("doc_id < 50"),
        s"/root/repo/target/qtmp/mm_images_${Integer.toHexString(dir.hashCode)}")
      val assets = Multimodal.readBinaryAssets(s, staged)
        .select(regexp_extract(col("path"), "(\\d+)\\.(png|bmp)$", 1)
          .cast("long").as("asset_id"), col("content"))
      Multimodal.decodeImageMeta(s, assets).toDF()
    }),

    // Multimodal AUDIO: sample rate / channels / sample width / frame
    // count parsed from REAL PCM WAV headers by the JDK's javax.sound
    // registry (no sample-data decode). Every property derives from the
    // id, so the whole decode output is a full-value oracle.
    "mm_audio_decode" -> ((s, dir) => {
      val staged = Multimodal.stageWavFiles(
        Tables.documents(s, dir).where("doc_id < 50"),
        s"/root/repo/target/qtmp/mm_audio_${Integer.toHexString(dir.hashCode)}")
      val assets = Multimodal.readBinaryAssets(s, staged)
        .select(regexp_extract(col("path"), "(\\d+)\\.wav$", 1)
          .cast("long").as("asset_id"), col("content"))
      Multimodal.decodeAudioMeta(s, assets).toDF()
    }),

    // Multimodal VIDEO: duration / presentation size / track count parsed
    // from REAL MP4 (ISO BMFF) box headers — mdat is skipped by size, the
    // header-only cost model. Every property derives from the id, so the
    // whole decode output is a full-value oracle.
    "mm_video_decode" -> ((s, dir) => {
      val staged = Multimodal.stageMp4Files(
        Tables.documents(s, dir).where("doc_id < 50"),
        s"/root/repo/target/qtmp/mm_video_${Integer.toHexString(dir.hashCode)}")
      val assets = Multimodal.readBinaryAssets(s, staged)
        .select(regexp_extract(col("path"), "(\\d+)\\.mp4$", 1)
          .cast("long").as("asset_id"), col("content"))
      Multimodal.decodeVideoMeta(s, assets).toDF()
    }),

    // Multimodal: file-level ingest through the built-in binaryFile source
    // (how media actually enters the engine — whole files as binary rows).
    // A small doc sample stages as one payload file each; the read-back's
    // id (from the filename), byte length, and content all value-check
    // against the source rows. NULL/empty-text docs are excluded on BOTH
    // sides (octet_length > 0): Spark's file index drops zero-length
    // files from every scan, so an empty asset cannot exist through the
    // binaryFile source — staging one would silently lose the row on the
    // Spark side only and split the engines on a null-bearing fixture.
    "mm_binary_ingest" -> ((s, dir) => {
      val staged = Multimodal.stageAssetFiles(
        Tables.documents(s, dir).where("doc_id < 50"),
        s"/root/repo/target/qtmp/mm_assets_${Integer.toHexString(dir.hashCode)}")
      val assets = Multimodal.readBinaryAssets(s, staged)
        .select(regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long").as("asset_id"),
          col("length").cast("long").as("n_bytes"), col("content"))
      val expected = Tables.documents(s, dir).where("doc_id < 50")
        .where(length(coalesce(col("text"), lit(""))) > 0)
        .select(col("doc_id").as("asset_id"),
          encode(coalesce(col("text"), lit("")), "UTF-8").as("expected"))
      assets.join(expected, Seq("asset_id"))
        .select(col("asset_id"), col("n_bytes"),
          (col("content") === col("expected")).as("bytes_match"))
    }),

    // Multimodal: frame-sampling plumbing (binary slicing, pure SQL).
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.fromDocuments(Tables.documents(s, dir)).where("asset_id < 100"), 4)
        .select("asset_id", "frame_no", "frame_len")),

    // The composite curation pipeline a training-data run actually executes:
    // language gate → quality gate → exact dedup (min-id survivor) →
    // near-dup removal (shingle Jaccard, greedy keep-smaller-id) → token
    // accounting. Every stage is a narrow map or a key-blocked join; the
    // whole chain is one DuckDB-checkable query.
    "dd_curate" -> ((s, dir) => curatedDocs(s, dir).select("doc_id", "alnum_tokens")),

    // The FULL corpus-assembly chain as one plan: curation survivors →
    // deterministic 50% hash sample → greedy token-budget packing per
    // source. Each stage's operator is oracle-checked alone above; this
    // query proves they compose — the oracle recomputes the entire chain
    // (curation CTEs + hash cutoff + recursive pack).
    "dd_pipeline" -> ((s, dir) => {
      val sampled = Mixing.hashSample(curatedDocs(s, dir), "doc_id", "source",
        Seq.empty, pipelineSampleRate)
      Mixing.packBins(sampled, "source", "doc_id", "alnum_tokens", packCapacity)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("size").as("n_tok"), col("bin"))
    })
  )

  /** Curation survivors with their source and token count, memoized per
    * (session, dir) — dd_curate projects it; dd_pipeline samples and packs
    * it. All gate signals are computed in ONE projection (no joins, one
    * pass over text) — the shape a 100 TB curation run wants: signals at
    * scan speed, then only survivors reach the dedup shuffles. */
  private[graft] def curatedDocs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, s"curated:$dir")(buildCurated(s, dir))

  /** The un-memoized curation plan — what [[curatedDocs]] materializes.
    * Exposed separately so the plan audit (graft.Plans) can explain the
    * real operator chain rather than the memo's checkpoint read. */
  private[graft] def buildCurated(s: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(s, dir)
      val t = col("text")
      val kept = docs.select(col("doc_id"), col("source"), t,
          length(t).cast("double").as("n_chars"),
          TextAnalysis.alphaRatio(t).as("alpha_ratio"),
          size(TextAnalysis.tokens(t)).as("alnum_tokens"),
          LangId.predictCol(TextAnalysis.tokens(t)).getField("_2").as("lang_pred"))
        .where(col("lang_pred") === "en" &&
          col("alpha_ratio") >= 0.6 && col("n_chars") >= 100)
      val exactKeep = kept.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      val kept2 = kept.join(exactKeep.select("doc_id"), Seq("doc_id"), "left_semi")
      // greedy near-dup removal: any doc appearing as the larger id of a
      // >= 0.5-Jaccard pair drops (deterministic; the canonical survivor of
      // a dup cluster is its smallest id)
      val losers = Dedup.jaccardPairs(kept2.select("doc_id", "text"), n = 3, threshold = 0.5)
        .select(col("idB").as("doc_id")).distinct()
      kept2.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "alnum_tokens")
    }

  /** Flat keep-rate of dd_pipeline's sampling stage (shared with its
    * oracle's hex cutoff). */
  private[graft] val pipelineSampleRate = 0.5

  private def markerList(lang: String): String =
    LangId.markers(lang).map(w => s"'$w'").mkString(", ")

  /** DuckDB mirror of [[LangId.predict]] — also embedded as a CTE body by
    * the dd_curate oracle. */
  private lazy val langidSql: String = {
    val langs = LangId.markers.keys.toSeq.sorted
    val hitCols = langs.map(l =>
      s"CAST(len(list_filter(tok, x -> x IN (${markerList(l)}))) AS INT) AS hits_$l").mkString(",\n  ")
    val maxExpr = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    // NULL text → NULL prediction on BOTH sides: without the leading
    // IS NULL arm, every WHEN compares NULL and the CASE silently falls
    // through to the last language — the engine's null row would mismatch
    val caseExpr = (s"WHEN m IS NULL THEN NULL" +: langs.dropRight(1).map(l =>
      s"WHEN hits_$l = m THEN '$l'")).mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    s"""WITH t AS (SELECT doc_id, ${tokSql("text")} AS tok FROM documents),
       |s AS (SELECT doc_id,
       |  $hitCols
       |FROM t),
       |m AS (SELECT doc_id, $maxExpr AS m, * FROM s)
       |SELECT doc_id, m AS marker_hits, $caseExpr AS lang_pred FROM m""".stripMargin
  }

  /** Shared DuckDB CTE bodies: word-3-shingle sets per document and the
    * exact Jaccard self-join pairs — embedded by the dd_ngram_jaccard,
    * dd_minhash, dd_clusters, dd_survivors, and dd_decontam oracles. */
  private lazy val jaccardCte: String =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(tok) >= 3
       |    THEN list_transform(range(0, len(tok) - 2),
       |         i -> concat(tok[CAST(i AS INT)+1], ' ', tok[CAST(i AS INT)+2], ' ', tok[CAST(i AS INT)+3]))
       |    ELSE [array_to_string(tok, ' ')] END) AS sh
       |  FROM (SELECT doc_id, ${tokSql("text")} AS tok FROM documents)),
       |ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB, a.n_sh AS nA, b.n_sh AS nB,
       |         count(*) AS shared
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Shared DuckDB CTE: the duplicated-substring spans (8-token windows,
    * min corpus frequency 2, consecutive duplicated positions merged) —
    * embedded by the dd_substring and dd_substring_strip oracles. Exposes
    * `t` (doc_id, tok) and `sp` (doc_id, span_start, span_len, n_windows). */
  private lazy val substringSpanCte: String =
    s"""t AS (SELECT doc_id, ${tokSql("text")} AS tok FROM documents),
       |w AS (SELECT doc_id, CAST(i AS INT) AS pos,
       |        array_to_string(list_slice(tok, CAST(i AS INT)+1, CAST(i AS INT)+8), ' ') AS win
       |      FROM (SELECT doc_id, tok,
       |              unnest(range(0, greatest(len(tok) - 7, 0))) AS i FROM t)),
       |hot AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
       |d AS (SELECT w.doc_id, w.pos FROM w JOIN hot USING (win)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM d),
       |sp AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       |         CAST(max(pos) - min(pos) + 8 AS INT) AS span_len,
       |         CAST(count(*) AS BIGINT) AS n_windows
       |       FROM r GROUP BY doc_id, isl)""".stripMargin

  /** tx_bm25's query terms: mid-frequency fixture vocabulary, chosen for
    * df variance so the idf weighting is exercised. */
  private[graft] val bm25Terms = Seq("vector", "stream", "hash", "spark")

  /** The QUERY-INDEPENDENT head of the BM25 recompute — full-corpus
    * tokenization and the n_docs/avgdl stats (same tokenizer as the
    * engine). Shared unsuffixed by every instantiation, so the batch
    * oracle tokenizes the corpus ONCE however many queries it carries. */
  private val bm25BaseCte: String =
    s"""bmd AS (SELECT doc_id, ${Fixtures.tokSql("text")} AS toks FROM documents),
       |bmdl AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM bmd),
       |bmst AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM bmdl)""".stripMargin

  /** The per-TERM-SET tail (Lucene idf, k1=1.2 / b=0.75) — exposes
    * `bm25s$sfx` (doc_id, n_hit_terms, bm25); suffixed so several
    * instantiations coexist in one WITH over the shared base. */
  private def bm25TailCteFor(terms: Seq[String], sfx: String): String =
    s"""bmh$sfx AS (SELECT doc_id, dl, t AS term, CAST(count(*) AS DOUBLE) AS tf
       |      FROM (SELECT doc_id, dl, unnest(toks) AS t FROM bmdl)
       |      WHERE t IN (${terms.map(t => s"'$t'").mkString(", ")})
       |      GROUP BY 1, 2, 3),
       |bmf$sfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM bmh$sfx GROUP BY 1),
       |bm25s$sfx AS (SELECT doc_id, CAST(count(*) AS INT) AS n_hit_terms,
       |  round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
       |          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
       |FROM bmh$sfx JOIN bmf$sfx USING (term), bmst
       |GROUP BY doc_id)""".stripMargin

  /** The single-query instantiation embedded by the tx_bm25,
    * tx_bm25_store, and tx_rrf_fusion oracles. */
  private lazy val bm25Cte: String =
    bm25BaseCte + ",\n" + bm25TailCteFor(bm25Terms, "")

  /** tx_bm25_batch's fixed query batch — DISTINCT terms per query (the
    * per-(doc, term) oracle CTE counts a term once, matching the engine
    * only for duplicate-free term lists; duplicate-term semantics are
    * pinned engine-side in TextAnalysisSpec). Query 2's term misses the
    * corpus entirely — the query must simply be absent from the output,
    * on both engines. */
  private[graft] val bm25BatchQueries: Seq[(Int, Seq[String])] = Seq(
    0 -> bm25Terms,
    1 -> Seq("data", "model", "graph"),
    2 -> Seq("graftneverinthecorpus"))

  /** SQL mirror of [[Ann.cosineUsable]]: a vector participates in
    * cosine-space ops iff non-null with a nonzero norm and no NaN
    * component. DuckDB's 0/0 is NULL (not NaN) so its threshold filters
    * drop zero vectors naturally, but the explicit predicate keeps the
    * rule independent of either engine's NULL/NaN ordering defaults
    * across fixture regenerations; the NaN/NULL-component conjunct
    * mirrors the engine's guard against NaN components ranking first
    * under Spark's NaN-is-greatest ordering and against NULL components
    * (which NULL the dot product out entirely). The predicate
    * `x IS NULL OR isnan(x)` is never NULL, so list_filter's
    * drop-NULL-results rule and Spark's three-valued `exists` cannot
    * diverge on NULL-component vectors. */
  private[queries] val usableVec: String =
    "embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0" +
      " AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"

  val oracles: Seq[(String, String)] = Seq(
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH $jaccardCte
         |SELECT idA, idB,
         |  round(CAST(shared AS DOUBLE) / (nA + nB - shared), 6) AS jaccard
         |FROM pairs WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35""".stripMargin,
    // connected components of the >=0.35 near-dup graph: every member
    // labeled with the least id reachable from it (recursive closure)
    "dd_clusters" ->
      s"""WITH RECURSIVE $jaccardCte,
         |jp AS (SELECT idA, idB FROM pairs
         |       WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35),
         |edges AS (SELECT idA AS s, idB AS d FROM jp
         |          UNION ALL SELECT idB, idA FROM jp),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         |FROM reach GROUP BY s""".stripMargin,
    // decontamination survivors: corpus docs with no >=0.5-Jaccard match
    // in the doc_id%97 "benchmark" subset (benchmark members match
    // themselves at J=1 and drop)
    "dd_decontam" ->
      s"""WITH $jaccardCte,
         |bpairs AS (
         |  SELECT c.doc_id AS cid, b.doc_id AS bid, c.n_sh AS nC, b.n_sh AS nB,
         |         count(*) AS shared
         |  FROM ex c JOIN (SELECT * FROM ex WHERE doc_id % 97 = 0) b
         |    ON c.shingle = b.shingle
         |  GROUP BY 1, 2, 3, 4),
         |contaminated AS (
         |  SELECT DISTINCT cid AS doc_id FROM bpairs
         |  WHERE CAST(shared AS DOUBLE) / (nC + nB - shared) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,
    // the STREAMING decontamination screen (st_decontam_stream, defined in
    // StreamQueries) is stateless per batch, so its survivor union equals
    // the batch decontamination — the identical oracle applies
    "st_decontam_stream" ->
      s"""WITH $jaccardCte,
         |bpairs AS (
         |  SELECT c.doc_id AS cid, b.doc_id AS bid, c.n_sh AS nC, b.n_sh AS nB,
         |         count(*) AS shared
         |  FROM ex c JOIN (SELECT * FROM ex WHERE doc_id % 97 = 0) b
         |    ON c.shingle = b.shingle
         |  GROUP BY 1, 2, 3, 4),
         |contaminated AS (
         |  SELECT DISTINCT cid AS doc_id FROM bpairs
         |  WHERE CAST(shared AS DOUBLE) / (nC + nB - shared) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,
    // canonical docs: everything except non-minimal members of a cluster
    "dd_survivors" ->
      s"""WITH RECURSIVE $jaccardCte,
         |jp AS (SELECT idA, idB FROM pairs
         |       WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35),
         |edges AS (SELECT idA AS s, idB AS d FROM jp
         |          UNION ALL SELECT idB, idA FROM jp),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |dropped AS (SELECT s AS doc_id FROM reach GROUP BY s HAVING min(d) < s)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    // novelty: shingle owner = min doc_id containing it; per-doc fraction
    // of self-owned shingles (jaccardCte's unused `pairs` CTE is lazy —
    // DuckDB only evaluates `ex`)
    "dd_novelty" ->
      s"""WITH $jaccardCte,
         |own AS (SELECT shingle, min(doc_id) AS owner FROM ex GROUP BY 1)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN o.owner = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(sum(CASE WHEN o.owner = e.doc_id THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM ex e JOIN own o ON e.shingle = o.shingle
         |GROUP BY e.doc_id""".stripMargin,

    // containment matrix: symmetric >=0.35 pair edges, distinct matched
    // target docs per ordered source pair, zero-filled over the full
    // sources × sources grid
    "dd_containment" ->
      s"""WITH $jaccardCte,
         |jp AS (SELECT idA, idB FROM pairs
         |       WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35),
         |edges AS (SELECT idA AS a, idB AS b FROM jp
         |          UNION ALL SELECT idB, idA FROM jp),
         |hit AS (SELECT DISTINCT sa.source AS source_from,
         |                        sb.source AS source_to, e.b
         |        FROM edges e JOIN documents sa ON e.a = sa.doc_id
         |                     JOIN documents sb ON e.b = sb.doc_id),
         |dup AS (SELECT source_from, source_to, count(*) AS n_dup
         |        FROM hit GROUP BY 1, 2),
         |tot AS (SELECT source AS source_to, count(*) AS n_docs
         |        FROM documents GROUP BY 1),
         |srcs AS (SELECT DISTINCT source AS source_from FROM documents)
         |SELECT s.source_from, t.source_to, CAST(t.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
         |  round(coalesce(d.n_dup, 0) / CAST(t.n_docs AS DOUBLE), 6)
         |    AS containment
         |FROM srcs s CROSS JOIN tot t
         |LEFT JOIN dup d ON d.source_from = s.source_from
         |                AND d.source_to = t.source_to""".stripMargin,
    // keep-best survivors: same recursive components as dd_survivors, but
    // per cluster the longest member (ties → lowest id) wins
    "dd_keep_best" ->
      s"""WITH RECURSIVE $jaccardCte,
         |jp AS (SELECT idA, idB FROM pairs
         |       WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35),
         |edges AS (SELECT idA AS s, idB AS d FROM jp
         |          UNION ALL SELECT idB, idA FROM jp),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |lbl AS (SELECT s AS doc_id, least(min(d), s) AS cluster_id
         |        FROM reach GROUP BY s),
         |toks AS (SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |    x -> x <> '')) AS INT) AS n_tok FROM documents),
         |member AS (SELECT t.doc_id, l.cluster_id, t.n_tok
         |           FROM toks t JOIN lbl l USING (doc_id)),
         |best AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY n_tok DESC, doc_id ASC) AS rn
         |    FROM member) WHERE rn = 1)
         |SELECT doc_id, n_tok FROM toks
         |WHERE doc_id IN (SELECT doc_id FROM best)
         |   OR doc_id NOT IN (SELECT doc_id FROM member)""".stripMargin,
    // the Bloom prefilter never changes the answer, so the oracle is the
    // exact formulation over the %89 benchmark subset
    "dd_bloom_decontam" ->
      s"""WITH $jaccardCte,
         |bpairs AS (
         |  SELECT c.doc_id AS cid, b.doc_id AS bid, c.n_sh AS nC, b.n_sh AS nB,
         |         count(*) AS shared
         |  FROM ex c JOIN (SELECT * FROM ex WHERE doc_id % 89 = 0) b
         |    ON c.shingle = b.shingle
         |  GROUP BY 1, 2, 3, 4),
         |contaminated AS (
         |  SELECT DISTINCT cid AS doc_id FROM bpairs
         |  WHERE CAST(shared AS DOUBLE) / (nC + nB - shared) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,
    // duplicated-substring spans: naive formulation — every 8-token window
    // string, windows occurring twice+ corpus-wide, consecutive duplicated
    // positions merged via the pos - row_number() island trick
    "dd_substring" ->
      s"""WITH $substringSpanCte
         |SELECT doc_id, span_start, span_len, n_windows FROM sp""".stripMargin,
    // the cut pass: token positions covered by no span, reassembled in
    // order; a fully-duplicated doc cleans to '' (string_agg over zero
    // rows is NULL — coalesced for docs that HAD tokens), null text stays
    // NULL
    "dd_substring_strip" ->
      s"""WITH $substringSpanCte,
         |tk AS (SELECT doc_id, CAST(i AS INT) AS pos, tok[CAST(i AS INT)+1] AS tk
         |       FROM (SELECT doc_id, tok, unnest(range(0, len(tok))) AS i FROM t)),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tk FROM tk
         |         WHERE NOT EXISTS (SELECT 1 FROM sp
         |            WHERE sp.doc_id = tk.doc_id
         |              AND tk.pos >= sp.span_start
         |              AND tk.pos < sp.span_start + sp.span_len)),
         |agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean
         |        FROM kept GROUP BY doc_id),
         |rem AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_removed
         |        FROM tk
         |        WHERE EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = tk.doc_id
         |             AND tk.pos >= sp.span_start
         |             AND tk.pos < sp.span_start + sp.span_len)
         |        GROUP BY tk.doc_id)
         |SELECT t.doc_id,
         |  CASE WHEN t.tok IS NULL THEN NULL
         |       ELSE coalesce(agg.clean, '') END AS clean_text,
         |  coalesce(rem.n_removed, 0) AS n_removed
         |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN rem USING (doc_id)""".stripMargin,
    // hash-deterministic per-language sampling: the CASE arms are generated
    // from the SAME rate table the Spark filter uses (Mixing.rateCutoffHex)
    "tx_mixture" -> {
      val arm = (l: String, r: Double) =>
        if (r >= 1.0) s"WHEN lang = '$l' THEN TRUE"
        else s"WHEN lang = '$l' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Mixing.rateCutoffHex(r)}'"
      val arms = mixtureRates.map { case (l, r) => arm(l, r) }.mkString("\n  ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE CASE
         |  $arms
         |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Mixing.rateCutoffHex(mixtureDefaultRate)}'
         |END""".stripMargin
    },
    "tx_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${tokSql("text")} AS tok FROM documents),
         |base AS (SELECT doc_id, tok, len(tok) AS n_tokens,
         |  len(list_distinct(tok)) AS n_distinct,
         |  CASE WHEN len(tok) >= 2 THEN list_transform(range(0, len(tok) - 1),
         |       i -> concat(tok[CAST(i AS INT)+1], ' ', tok[CAST(i AS INT)+2]))
         |  ELSE [] END AS bgs FROM t),
         |tt AS (SELECT doc_id, max(c) AS top_tok FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tok) AS g FROM base) GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |bt AS (SELECT doc_id, max(c) AS top_bg FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(bgs) AS g FROM base) GROUP BY doc_id, g)
         |  GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n_tokens AS INT) AS n_tokens,
         |  round(b.n_distinct / CAST(greatest(b.n_tokens, 1) AS DOUBLE), 6) AS distinct_ratio,
         |  CASE WHEN b.n_tokens IS NULL THEN NULL
         |       ELSE round(coalesce(tt.top_tok, 0) / CAST(greatest(b.n_tokens, 1) AS DOUBLE), 6)
         |  END AS top_token_frac,
         |  CASE WHEN b.n_tokens IS NULL THEN NULL
         |       ELSE round(coalesce(bt.top_bg, 0) / CAST(greatest(b.n_tokens - 1, 1) AS DOUBLE), 6)
         |  END AS top_bigram_frac
         |FROM base b
         |LEFT JOIN tt ON b.doc_id = tt.doc_id
         |LEFT JOIN bt ON b.doc_id = bt.doc_id""".stripMargin,
    // greedy packing is a running-total-with-reset recurrence — expressed
    // here as a per-source recursive CTE walking row_number order
    "tx_pack" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT source, doc_id,
         |         coalesce(CAST(len(${tokSql("text")}) AS BIGINT), 0) AS n_tok,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin, n_tok AS fill
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.doc_id, t.n_tok, t.rn,
         |    CASE WHEN p.fill + t.n_tok > $packCapacity
         |         THEN p.bin + 1 ELSE p.bin END,
         |    CASE WHEN p.fill + t.n_tok > $packCapacity
         |         THEN t.n_tok ELSE p.fill + t.n_tok END
         |  FROM p JOIN t ON t.source IS NOT DISTINCT FROM p.source
         |                AND t.rn = p.rn + 1)
         |SELECT source, doc_id, n_tok, bin FROM p""".stripMargin,
    // full recomputation of the SimHash operator in SQL: per-token md5-based
    // 64-bit hash (two unsigned-32-bit halves), ±1 bit votes, sign →
    // signature, 4×16-bit band equi-join, hamming <= 3 — mirrors
    // Dedup.simhash/simhashPairs exactly
    "dd_simhash" ->
      s"""WITH tk AS (SELECT doc_id, unnest(${tokSql("text")}) AS t FROM documents),
         |h AS (SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT AS hi,
         |             ('0x'||substr(md5(t),9,8))::BIGINT AS lo FROM tk),
         |v AS (SELECT doc_id, b.b AS b,
         |        sum(CASE WHEN b.b < 32 THEN ((lo >> b.b) & 1) * 2 - 1
         |                 ELSE ((hi >> (b.b - 32)) & 1) * 2 - 1 END) AS vote
         |      FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b GROUP BY 1, 2),
         |sig0 AS (SELECT doc_id,
         |        sum(CASE WHEN vote > 0 AND b >= 32 THEN 1::BIGINT << (CAST(b AS INT) - 32) ELSE 0 END) AS sig_hi,
         |        sum(CASE WHEN vote > 0 AND b < 32 THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END) AS sig_lo
         |      FROM v GROUP BY doc_id),
         |sig AS (SELECT d.doc_id, coalesce(s.sig_hi, 0)::BIGINT AS sig_hi,
         |               coalesce(s.sig_lo, 0)::BIGINT AS sig_lo
         |        FROM documents d LEFT JOIN sig0 s USING (doc_id)
         |        WHERE d.text IS NOT NULL),
         |banded AS (SELECT doc_id, sig_hi, sig_lo, bd.i AS band,
         |        CASE WHEN bd.i * 16 < 32 THEN (sig_lo >> (bd.i * 16)) & 65535
         |             ELSE (sig_hi >> (bd.i * 16 - 32)) & 65535 END AS band_val
         |      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS i) bd),
         |pairs AS (SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB,
         |        CAST(bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) AS hamming
         |      FROM banded a JOIN banded b
         |        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT idA, idB, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
    // full value check: the n-gram construction mirrors the Spark
    // shingles() semantics (distinct grams; short docs collapse to one
    // whole-doc gram), document frequency = rows per gram
    "dd_boilerplate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(tok) >= 3
         |    THEN list_transform(range(0, len(tok) - 2),
         |         i -> concat(tok[CAST(i AS INT)+1], ' ', tok[CAST(i AS INT)+2], ' ', tok[CAST(i AS INT)+3]))
         |    ELSE [array_to_string(tok, ' ')] END) AS sh
         |  FROM (SELECT doc_id, ${tokSql("coalesce(text, '')")} AS tok FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) >= 3),
         |bp AS (SELECT doc_id, count(*) AS bp_grams FROM ex JOIN hot USING (g)
         |       GROUP BY doc_id),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY doc_id)
         |SELECT pd.doc_id, CAST(pd.n_grams AS BIGINT) AS n_grams,
         |  CAST(COALESCE(bp.bp_grams, 0) AS BIGINT) AS bp_grams,
         |  round(CAST(COALESCE(bp.bp_grams, 0) AS DOUBLE)
         |    / greatest(pd.n_grams, 1), 6) AS bp_frac
         |FROM pd LEFT JOIN bp USING (doc_id)""".stripMargin,
    // contract: corpus size is SQL-computable; the maintenance-equivalence,
    // rescore, and rank invariants are centroid-state booleans the driver
    // hash-gates
    "ann_ivf_store" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
        |  true AS incremental_equals_batch, true AS rescore_exact,
        |  true AS ranks_valid
        |FROM embeddings""".stripMargin,
    // contract: corpus total is SQL-computable; store completeness,
    // recall-vs-brute, exact-refine parity, and rank integrity are
    // quantizer-state booleans the driver hash-gates
    "ann_ivfpq_store" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
        |  true AS store_complete, true AS recall_ok, true AS rescore_exact,
        |  true AS ranks_valid
        |FROM embeddings""".stripMargin,
    // contract: the servable-corpus count is SQL-computable; the
    // lifecycle row accounting, frac validity, and drift bound are
    // store/quantizer-state booleans the driver hash-gates
    "ann_store_staleness" ->
      s"""SELECT CAST(count(CASE WHEN $usableVec THEN 1 END) AS BIGINT)
        |    AS n_servable,
        |  true AS ivf_rows_match_lifecycle, true AS pq_rows_match_lifecycle,
        |  true AS fracs_in_unit_interval,
        |  true AS in_distribution_drift_bounded
        |FROM embeddings""".stripMargin,
    // contract: assignment totality is SQL-computable; cell-count bound and
    // cosine validity are centroid-state booleans the driver hash-gates
    "ann_cluster_report" ->
      s"""SELECT CAST(count(CASE WHEN $usableVec THEN 1 END) AS BIGINT)
        |    AS n_assigned,
        |  true AS cells_bounded, true AS coherence_valid
        |FROM embeddings""".stripMargin,
    // contract: exact >=0.3 all-pairs count is SQL-computable; recall vs it
    // and the structural no-false-positives check are cluster-state
    // invariants the driver hash-gates
    "dd_semantic" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE $usableVec),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok,
        |  true AS no_false_positives
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
        |  / (a.nrm * b.nrm) >= 0.3""".stripMargin,
    "dd_cosine" ->
      s"""WITH v AS (SELECT vec_id, label, vec_id % 5 AS sub,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE $usableVec),
        |n AS (SELECT vec_id, label, sub, v,
        |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
        |SELECT a.vec_id AS idA, b.vec_id AS idB,
        |  round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.nrm * b.nrm) >= 0.3""".stripMargin,
    // contract oracles: SQL-computable exact values + literal trues for the
    // seeded-state invariants (the driver's hash compare fails if recall
    // drops below bound, a false positive appears, or re-scoring drifts)
    "dd_minhash" ->
      s"""WITH $jaccardCte
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok,
         |  true AS no_gross_false_positives, true AS ests_in_unit_interval
         |FROM pairs WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.35""".stripMargin,
    // full-value oracle: the range search is exhaustive, so DuckDB mirrors
    // the cosine arithmetic (same accumulation shape as CosineSim: dot /
    // (sqrt(ssqA) * sqrt(ssqB))). Both engines threshold the ROUNDED
    // (6 dp) cosine — the emitted value — so a pair landing within an ulp
    // of the threshold cannot be included by one engine and excluded by
    // the other across fixture regenerations.
    "ann_range_search" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE $usableVec),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
        |SELECT * FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    round(list_sum(list_transform(list_zip(c.v, q.v), p -> p[1] * p[2])) / (c.nrm * q.nrm), 6) AS cosine
        |  FROM n c JOIN n q ON q.vec_id < 8 AND c.vec_id != q.vec_id)
        |WHERE cosine >= 0.25""".stripMargin,
    // contract: corpus count is SQL-computable; completeness, serve
    // equality, and file-count reduction are store-state booleans
    "ann_ivf_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus, true AS store_complete,
        |  true AS served_identical, true AS files_reduced
        |FROM embeddings""".stripMargin,
    // contract: node sample count is SQL-computable; recall (seeded cell
    // state), exact rescoring, and rank validity are the hash-gated booleans
    "ann_knn_graph" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |  true AS rescore_exact, true AS ranks_valid
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "ann_lsh_topk" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |  true AS rescore_exact, true AS ranks_valid
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "ann_ivf_topk" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |  true AS rescore_exact, true AS ranks_valid
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "ann_pq_topk" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |  true AS rescore_exact, true AS ranks_valid
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // contract: query count is SQL-exact; filtered recall, the
    // no-disallowed-id guarantee, rescore parity, and rank integrity are
    // store-state booleans the driver hash-gates
    "ann_filtered_topk" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |  true AS only_allowed, true AS rescore_exact, true AS ranks_valid
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // contract: query count is SQL-exact; the monotone-recall and
    // full-probe-equals-brute THEOREMS plus the measured default-probe
    // floor are store-state booleans the driver hash-gates
    "ann_probe_curve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  true AS recall_monotone_in_probes, true AS recall_at_default_ok,
        |  true AS full_probe_equals_brute
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // contract: query count is SQL-exact; the persisted curve's
    // monotonicity/full-probe theorems, the recall-target serve meeting
    // its target, and the curve-currency stamp are store-state booleans
    // the driver hash-gates
    "ann_tuned_serve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  true AS curve_monotone, true AS full_probe_recall_one,
        |  true AS serve_meets_target, true AS curve_current
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // contract: query count SQL-exact; the monotone/theorem/target/
    // currency checks are measured-curve booleans the driver hash-gates
    // (the theorem baseline is the store's own never-binding-shortlist
    // serve — exact within the probed cells by construction)
    "ann_pq_tuned_serve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  true AS curve_monotone, true AS theorem_point_recall_one,
        |  true AS serve_meets_target, true AS curve_current
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    // contract: corpus count is SQL-exact; the gate, atomic commit,
    // baseline-reset cleanliness, and serve-equals-rebuild checks are
    // store-state booleans the driver hash-gates
    "ann_store_refresh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
        |  true AS gate_respected, true AS refreshed, true AS single_commit,
        |  true AS drift_cleared, true AS serve_matches_rebuild
        |FROM embeddings""".stripMargin,
    // contract: the post-upsert row count is SQL-exact (reversal
    // preserves component-wise usability, so the servable count is the
    // original plus the usable novel arrivals); content equality vs the
    // updated corpus, single-commit atomicity, and time-travel
    // completeness are store-state booleans the driver hash-gates
    "ann_store_upsert" ->
      s"""SELECT CAST(count(CASE WHEN $usableVec THEN 1 END)
        |    + count(CASE WHEN $usableVec AND vec_id % 31 = 0 THEN 1 END)
        |    AS BIGINT) AS n_after,
        |  true AS content_equals_updated_corpus, true AS single_commit,
        |  true AS history_preserved
        |FROM embeddings""".stripMargin,
    // contract: the surviving servable count is SQL-exact; removal
    // completeness, serve-equals-rebuild, and time-travel completeness
    // are store-state booleans the driver hash-gates
    "ann_store_delete" ->
      s"""SELECT CAST(count(CASE WHEN $usableVec AND vec_id % 5 != 1
        |    THEN 1 END) AS BIGINT) AS n_after,
        |  true AS deleted_gone, true AS serve_matches_rebuild,
        |  true AS history_preserved
        |FROM embeddings""".stripMargin,
    // contract: query count is SQL-exact; the MMR greedy's structural
    // guarantees (first pick = exact top-1, k picks each, non-increasing
    // score sequence) surface as invariant booleans
    "ann_mmr_topk" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS k_each,
        |  true AS first_is_top1, true AS scores_nonincreasing
        |FROM embeddings WHERE vec_id < 8 AND $usableVec""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE $usableVec),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    round(list_sum(list_transform(list_zip(c.v, q.v), p -> p[1] * p[2])) / (c.nrm * q.nrm), 4) AS cosine
        |  FROM n c, (SELECT * FROM n WHERE vec_id < 8) q
        |  WHERE c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, nn_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 10""".stripMargin,
    // full SQL mirror of the int8 quantizer: DuckDB round() is
    // half-away-from-zero, matching the operator's explicit rounding rule
    "ann_quantize" ->
      """WITH v AS (SELECT vec_id,
        |  CASE WHEN len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0 THEN NULL
        |       ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS scale,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x))) END AS s FROM v),
        |qd AS (SELECT vec_id, v, scale, s,
        |  list_transform(v, x -> CAST(round(x / s * 127) AS INT)) AS q FROM s),
        |d AS (SELECT vec_id, v, scale, q,
        |  list_transform(q, i -> i * s / 127) AS dq FROM qd),
        |m AS (SELECT vec_id, scale, array_to_string(q, ',') AS qvec,
        |  list_max(list_transform(list_zip(v, dq), p -> abs(p[1] - p[2]))) AS max_abs_err,
        |  list_sum(list_transform(list_zip(v, dq), p -> p[1] * p[2])) AS dotvd,
        |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nv,
        |  sqrt(list_sum(list_transform(dq, x -> x * x))) AS nd
        |FROM d)
        |SELECT vec_id, round(scale, 6) AS scale, qvec,
        |  round(max_abs_err, 6) AS max_abs_err,
        |  round(CASE WHEN nv = 0 OR nd = 0 THEN 1.0 ELSE dotvd / (nv * nd) END, 6) AS cos_drift
        |FROM m""".stripMargin,
    // quantized-store search, fully recomputed in SQL: quantize → dequant →
    // cosine vs full-precision queries → rank (self excluded)
    "ann_quant_topk" ->
      s"""WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE $usableVec),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x))) END AS s FROM v),
        |dqc AS (SELECT vec_id,
        |  list_transform(v, x -> CAST(round(x / s * 127) AS INT) * s / 127) AS v
        |FROM s),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM dqc),
        |q AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |      FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    round(list_sum(list_transform(list_zip(c.v, q.v), p -> p[1] * p[2])) / (c.nrm * q.nrm), 4) AS cosine
        |  FROM n c, q WHERE c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, nn_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 10""".stripMargin,
    // Independent replay of the fit's FIRST pair-count argmax: same word
    // tokenization, same freq-desc/word-asc truncation to 65536 types,
    // same char+end-marker decomposition, same count-desc/pair-asc
    // tie-break; the type-table size is value-checked too. Invariant
    // booleans (depth reached or corpus genuinely dry, count monotonicity,
    // rank contiguity) are literals; the deep merge recursion itself is
    // pinned by BpeSpec against a naive reference trainer.
    "tx_bpe_fit" ->
      s"""WITH words AS (
         |  SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(${tokSql("text")}) AS t FROM documents)
         |  GROUP BY 1),
         |top_types AS (SELECT word, freq FROM words ORDER BY freq DESC, word LIMIT 65536),
         |syms AS (SELECT freq,
         |  list_append(list_transform(generate_series(1, length(word)), i -> word[i]), '</w>') AS s
         |  FROM top_types),
         |pairs AS (
         |  SELECT s[i] AS l, s[i+1] AS r, sum(freq) AS cnt
         |  FROM syms, unnest(generate_series(1, len(s) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |best AS (SELECT l, r, cnt FROM pairs ORDER BY cnt DESC, l, r LIMIT 1)
         |SELECT (SELECT count(*) FROM top_types) AS n_types,
         |  l AS first_left, r AS first_right,
         |  CAST(cnt AS BIGINT) AS first_count,
         |  true AS depth_full_or_exhausted,
         |  true AS counts_nonincreasing, true AS ranks_contiguous
         |FROM best""".stripMargin,
    // coalesce: the engine counts a NULL text as zero words (token
    // accounting over a coalesced corpus), so the oracle must not emit
    // NULL for it
    "tx_bpe_encode" ->
      s"""SELECT doc_id, CAST(len(${tokSql("coalesce(text, '')")}) AS INT) AS n_words,
         |  true AS tokens_bounded
         |FROM documents""".stripMargin,
    "tx_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS INT) AS ws_tokens,
         |  CAST(len(${tokSql("text")}) AS INT) AS alnum_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INT) AS bpeish_tokens
         |FROM documents""".stripMargin,
    // same augmented text, same three regexes in the same order; RE2 and
    // Java regex agree on these patterns by construction (no backrefs /
    // lookaround), so counts and the rewritten text hash-match exactly
    "tx_pii_scrub" -> {
      import graft.llm.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH aug AS (SELECT doc_id, $piiAugSql AS text FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS scrubbed
         |FROM aug""".stripMargin
    },
    // unigram probabilities recomputed from scratch; round(4) masks
    // ln()/summation-order float noise (same convention as tx_entropy)
    "tx_unigram_lp" ->
      s"""WITH ex AS (SELECT doc_id, unnest(${tokSql("text")}) AS tok FROM documents),
         |v AS (SELECT tok, count(*) AS tf FROM ex GROUP BY tok),
         |t AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM v),
         |sc AS (SELECT ex.doc_id, count(*) AS n_tok,
         |         round(sum(ln(v.tf / t.total)) / count(*), 4) AS avg_logp
         |       FROM ex JOIN v USING (tok) CROSS JOIN t GROUP BY ex.doc_id)
         |SELECT d.doc_id, CAST(coalesce(sc.n_tok, 0) AS BIGINT) AS n_tok,
         |  sc.avg_logp
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,
    // full BM25 recomputation: same tokenizer, same Lucene idf form, same
    // k1=1.2 / b=0.75 constants; round(4) masks term-summation order
    "tx_bm25" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, n_hit_terms, bm25 FROM bm25s""".stripMargin,
    // the store-served scores must equal the full-scan recomputation —
    // same oracle as tx_bm25, so the pruned serve is held to the exact
    // corpus statistics (df, avgdl, n_docs), not an approximation
    "tx_bm25_store" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, n_hit_terms, bm25 FROM bm25s""".stripMargin,
    // the growth accounting is exactly SQL-computable from the store's
    // known 2/3-build + 1/3-append lifecycle (the stats rows count EVERY
    // doc, null-text included — same as count(*)); fragmentation facts
    // are layout-state booleans the driver hash-gates
    "tx_bm25_staleness" ->
      """SELECT CAST(count(CASE WHEN doc_id % 3 != 2 THEN 1 END) AS BIGINT)
        |    AS n_docs_build,
        |  CAST(count(*) AS BIGINT) AS n_docs_now,
        |  round(CAST(count(CASE WHEN doc_id % 3 = 2 THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS appended_frac,
        |  true AS has_fragmentation, true AS gens_bounded
        |FROM documents""".stripMargin,
    // FULL-VALUE: every query's complete score set recomputed from
    // scratch per query (suffixed CTE instantiations), union'd under the
    // batch's query ids
    "tx_bm25_batch" -> {
      val ctes = bm25BaseCte + ",\n" + bm25BatchQueries
        .map { case (qid, terms) => bm25TailCteFor(terms, qid.toString) }
        .mkString(",\n")
      val branches = bm25BatchQueries.map { case (qid, _) =>
        s"SELECT CAST($qid AS INT) AS query_id, doc_id, n_hit_terms, bm25 " +
          s"FROM bm25s$qid"
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$branches"
    },
    // contract: the delete/upsert batch sizes are SQL-exact (token-
    // bearing docs, mirroring the engine's tokenizer); bit-for-bit
    // serve-equals-rebuild, removal completeness, commit accounting and
    // time travel are store-state booleans the driver hash-gates
    "tx_bm25_upsert" ->
      s"""SELECT
        |  CAST(count(CASE WHEN doc_id % 11 = 5 THEN 1 END) AS BIGINT)
        |    AS n_deleted,
        |  CAST(count(CASE WHEN doc_id % 7 = 3 AND doc_id % 11 != 5 THEN 1 END)
        |    + count(CASE WHEN doc_id % 31 = 0 THEN 1 END) AS BIGINT)
        |    AS n_upserted,
        |  true AS serve_equals_rebuild, true AS deleted_gone,
        |  true AS commits_expected, true AS history_preserved
        |FROM documents WHERE len(${tokSql("text")}) > 0""".stripMargin,
    // hybrid retrieval: lexical top-50 (BM25 ranks) fused with semantic
    // top-50 (cosine ranks vs the vec_id-0 query) by reciprocal-rank
    // fusion, 1/(60 + rank) per list. Both rank lists recompute from
    // scratch; the fused sum has <= 2 IEEE-exact addends, so round(6)
    // is bit-stable across engines.
    "tx_rrf_fusion" ->
      s"""WITH $bm25Cte,
         |lex AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM bm25s QUALIFY rank <= 50),
         |rv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE $usableVec),
         |rn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM rv),
         |sem AS (SELECT c.vec_id AS doc_id,
         |    row_number() OVER (ORDER BY
         |      round(list_sum(list_transform(list_zip(c.v, q.v), p -> p[1] * p[2]))
         |        / (c.nrm * q.nrm), 4) DESC, c.vec_id) AS rank
         |  FROM rn c, (SELECT * FROM rn WHERE vec_id = 0) q
         |  WHERE c.vec_id != q.vec_id QUALIFY rank <= 50),
         |u AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM lex
         |      UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM sem)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_lists,
         |  round(sum(c), 6) AS rrf
         |FROM u GROUP BY doc_id""".stripMargin,
    // FULL-VALUE hybrid serve: per query, lexical BM25 top-10 ranks and
    // semantic cosine top-10 ranks both recomputed from scratch (the
    // engine's recall-1.0 operating point makes its pruned IVF serve
    // equal the brute ranking — the tuned-curve theorem the ann_tuned_*
    // contracts pin), fused by 1/(60 + rank) per list; <= 2 IEEE-exact
    // addends per doc so round(6) is bit-stable, fused rank re-derived
    // from the rounded sum with the same (rrf desc, doc_id) tie-break.
    "tx_hybrid_serve" -> {
      val ctes = bm25BaseCte + ",\n" + bm25BatchQueries
        .map { case (qid, terms) => bm25TailCteFor(terms, qid.toString) }
        .mkString(",\n")
      val rnCte =
        s"""hrv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE $usableVec),
           |hrn AS (SELECT vec_id, v,
           |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM hrv)""".stripMargin
      val perQ = bm25BatchQueries.map { case (qid, _) =>
        s"""hlex$qid AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
           |  FROM bm25s$qid QUALIFY rank <= 10),
           |hsem$qid AS (SELECT c.vec_id AS doc_id,
           |    row_number() OVER (ORDER BY
           |      round(list_sum(list_transform(list_zip(c.v, q.v), p -> p[1] * p[2]))
           |        / (c.nrm * q.nrm), 4) DESC, c.vec_id) AS rank
           |  FROM hrn c, (SELECT * FROM hrn WHERE vec_id = $qid) q
           |  WHERE c.vec_id != q.vec_id QUALIFY rank <= 10)""".stripMargin
      }.mkString(",\n")
      val branches = bm25BatchQueries.map { case (qid, _) =>
        s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, 1.0 / (60 + rank) AS c FROM hlex$qid" +
          s"\nUNION ALL SELECT CAST($qid AS BIGINT), doc_id, 1.0 / (60 + rank) FROM hsem$qid"
      }.mkString("\nUNION ALL\n")
      s"""WITH $ctes,
         |$rnCte,
         |$perQ,
         |hu AS ($branches),
         |hf AS (SELECT query_id, doc_id, CAST(count(*) AS INT) AS n_lists,
         |         round(sum(c), 6) AS rrf
         |       FROM hu GROUP BY 1, 2)
         |SELECT query_id, doc_id, n_lists, rrf,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS INT) AS fused_rank
         |FROM hf""".stripMargin
    },
    // bigram LM recomputed from scratch: prev token by list indexing, the
    // same interpolation arithmetic in the same operation order; round(4)
    // masks summation-order float noise (convention of tx_unigram_lp)
    "tx_bigram_lp" ->
      s"""WITH t AS (SELECT doc_id, ${tokSql("text")} AS tok FROM documents),
         |ex AS (SELECT doc_id, tok[CAST(i AS INT)+1] AS tok_i,
         |         CASE WHEN i = 0 THEN NULL ELSE tok[CAST(i AS INT)] END AS prev
         |       FROM (SELECT doc_id, tok,
         |               unnest(range(0, len(tok))) AS i FROM t)),
         |uni AS (SELECT tok_i AS tok, count(*) AS uc FROM ex GROUP BY 1),
         |bi AS (SELECT prev, tok_i AS tok, count(*) AS bc FROM ex
         |       WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM ex),
         |p AS (SELECT ex.doc_id,
         |        CASE WHEN ex.prev IS NULL THEN u.uc / tot.total
         |             ELSE 0.75 * (coalesce(b.bc, 0) / CAST(pu.uc AS DOUBLE))
         |                  + 0.25 * (u.uc / tot.total) END AS p
         |      FROM ex
         |      JOIN uni u ON ex.tok_i = u.tok
         |      LEFT JOIN uni pu ON ex.prev = pu.tok
         |      LEFT JOIN bi b ON ex.prev = b.prev AND ex.tok_i = b.tok
         |      CROSS JOIN tot),
         |sc AS (SELECT doc_id, count(*) AS n_tok,
         |         round(sum(ln(p)) / count(*), 4) AS avg_logp2
         |       FROM p GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(sc.n_tok, 0) AS BIGINT) AS n_tok,
         |  sc.avg_logp2
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,
    // KL recomputed from scratch over the same token space; round(4) masks
    // ln()/summation-order float noise (same convention as tx_entropy)
    "tx_source_kl" ->
      s"""WITH ex AS (SELECT source AS grp, unnest(${tokSql("text")}) AS tok FROM documents),
         |g AS (SELECT tok, count(*) AS tf FROM ex GROUP BY tok),
         |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM ex),
         |ps AS (SELECT grp, tok, count(*) AS stf FROM ex GROUP BY grp, tok),
         |st AS (SELECT grp, count(*) AS s_total FROM ex GROUP BY grp)
         |SELECT ps.grp AS source, CAST(max(st.s_total) AS BIGINT) AS n_tok,
         |  round(sum((ps.stf / st.s_total)
         |    * ln((ps.stf / st.s_total) / (g.tf / t.total))), 4) AS kl
         |FROM ps JOIN st USING (grp) JOIN g USING (tok) CROSS JOIN t
         |GROUP BY ps.grp""".stripMargin,
    // the oracle is the NAIVE full-window formulation; the engine's
    // prefilter+window must select the identical set
    "tx_cap_sample" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat('cap42:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 10""".stripMargin,
    // temperature quotas recomputed in BIGINT (floor-sqrt weights, integer
    // sum, integer floor-division) — bit-identical to the engine's, then
    // the naive full-window selection
    "tx_temperature_mix" ->
      """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM n),
        |q AS (SELECT source,
        |    least(CAST(150 * w AS BIGINT) // CAST((SELECT sum(w) FROM w) AS BIGINT),
        |          n) AS k FROM w),
        |sel AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat('temp42:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
        |  FROM documents)
        |SELECT sel.doc_id, sel.source FROM sel
        |JOIN q ON sel.source IS NOT DISTINCT FROM q.source
        |WHERE sel.rk <= q.k""".stripMargin,
    // length histogram: the same integer floor-log2 (binary-string length)
    // — no float log2 at bucket boundaries
    "tx_length_hist" ->
      s"""WITH t AS (SELECT source, len(${tokSql("text")}) AS n FROM documents)
         |SELECT source,
         |  CAST(CASE WHEN n IS NULL OR n <= 0 THEN -1
         |       ELSE length(bin(n)) - 1 END AS INT) AS len_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n IS NULL OR n < 0 THEN 0 ELSE n END) AS BIGINT)
         |    AS total_tokens
         |FROM t GROUP BY 1, 2""".stripMargin,
    // vocabulary report: identical rank tiebreak (cnt desc, token asc) and
    // long→double exact division make coverage bit-comparable at round(6)
    "tx_vocab" ->
      s"""WITH tk AS (SELECT unnest(${tokSql("text")}) AS token FROM documents),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY token),
         |r AS (SELECT token, cnt,
         |        row_number() OVER (ORDER BY cnt DESC, token) AS rank,
         |        sum(cnt) OVER (ORDER BY cnt DESC, token
         |                       ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM c)
         |SELECT token, cnt, CAST(rank AS INT) AS rank,
         |  round(CAST(cum AS DOUBLE)
         |    / (SELECT CAST(sum(cnt) AS DOUBLE) FROM c), 6) AS coverage
         |FROM r WHERE rank <= 100""".stripMargin,
    // quality-model contract: class sizes from the data; AUC and
    // probability-range invariants asserted Spark-side
    "tx_quality_model" ->
      """SELECT CAST(count(CASE WHEN text IS NOT NULL THEN 1 END) AS BIGINT) AS n_pos,
        |  CAST(count(CASE WHEN text IS NOT NULL THEN 1 END) AS BIGINT) AS n_neg,
        |  CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS auc_ok, TRUE AS probs_in_range
        |FROM documents""".stripMargin,
    // the export writer preserves the shuffle-shard assignment exactly, so
    // its read-back oracle is the same SQL as tx_shuffle_shard
    "tx_export_shards" ->
      """WITH k AS (SELECT doc_id,
        |    md5(concat('train42:', CAST(doc_id AS VARCHAR))) AS ord_key
        |  FROM documents),
        |h AS (SELECT doc_id, ord_key,
        |    ((ascii(substr(ord_key, 1, 1)) - 48
        |        - CASE WHEN ascii(substr(ord_key, 1, 1)) >= 97 THEN 39 ELSE 0 END) * 16
        |      + (ascii(substr(ord_key, 2, 1)) - 48
        |        - CASE WHEN ascii(substr(ord_key, 2, 1)) >= 97 THEN 39 ELSE 0 END)) % 8 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id) AS INT) AS pos
        |FROM h""".stripMargin,
    // md5 order key and ascii()-only hex arithmetic reproduce the exact
    // shard assignment and within-shard rank
    "tx_shuffle_shard" ->
      """WITH k AS (SELECT doc_id,
        |    md5(concat('train42:', CAST(doc_id AS VARCHAR))) AS ord_key
        |  FROM documents),
        |h AS (SELECT doc_id, ord_key,
        |    ((ascii(substr(ord_key, 1, 1)) - 48
        |        - CASE WHEN ascii(substr(ord_key, 1, 1)) >= 97 THEN 39 ELSE 0 END) * 16
        |      + (ascii(substr(ord_key, 2, 1)) - 48
        |        - CASE WHEN ascii(substr(ord_key, 2, 1)) >= 97 THEN 39 ELSE 0 END)) % 8 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id) AS INT) AS pos
        |FROM h""".stripMargin,
    // entropy recomputed exactly from per-char frequencies; round(4) masks
    // summation-order float noise (same approach as the cosine oracles)
    "tx_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
        |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
        |f AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS tot FROM f GROUP BY 1),
        |e AS (SELECT f.doc_id, round(-sum((n / t.tot) * log2(n / t.tot)), 4) AS ent
        |      FROM f JOIN t USING (doc_id) GROUP BY f.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       WHEN len(d.text) = 0 THEN 0.0
        |       ELSE e.ent END AS char_entropy
        |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin,
    "tx_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS DOUBLE) AS n_chars,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS alpha_ratio,
         |  round(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio,
         |  round(len(list_filter(${tokSql("text")}, x -> x IN (${markerList("en")}))) / CAST(greatest(len(${tokSql("text")}), 1) AS DOUBLE), 6) AS stopword_ratio,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(greatest(len(${tokSql("text")}), 1) AS DOUBLE), 6) AS mean_word_len
         |FROM documents""".stripMargin,
    "tx_langid" -> langidSql,
    // Full fit+predict re-derivation of the NB learner: counts, Laplace
    // smoothing over the joint kept vocabulary, per-(doc, lang) log-
    // likelihoods, 6-dp-grid argmax with lang-asc tie-break — every step
    // mirrors LangId.fitNb/predictNb exactly (incl. the (count desc,
    // gram asc) truncation order and the ' '-padded lowercased trigrams).
    "tx_langid_nb" ->
      """WITH d AS (
        |  SELECT doc_id, lang, concat(' ', lower(coalesce(text, '')), ' ') AS p
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, substr(p, CAST(i AS INT), 3) AS gram
        |  FROM d, unnest(range(1, greatest(length(p) - 2, 0) + 1)) AS u(i)),
        |cnt AS (
        |  SELECT lang, gram, count(*) AS c FROM g
        |  WHERE lang IS NOT NULL GROUP BY 1, 2
        |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram) <= 65536),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM cnt),
        |pri AS (SELECT lang, CAST(count(*) AS DOUBLE) AS nd FROM d
        |        WHERE lang IS NOT NULL GROUP BY 1),
        |tt AS (SELECT sum(nd) AS total FROM pri),
        |ids AS (SELECT doc_id, greatest(length(p) - 2, 0) AS n_grams FROM d),
        |dg AS (SELECT doc_id, gram, count(*) AS k FROM g GROUP BY 1, 2),
        |sc AS (
        |  SELECT ids.doc_id, ids.n_grams, tot.lang,
        |    ln(pri.nd / tt.total)
        |      + coalesce(sum(dg.k * (ln(coalesce(cnt.c, 0) + 1.0) - ln(tot.t + v.v))), 0) AS s
        |  FROM ids
        |  CROSS JOIN tot CROSS JOIN v CROSS JOIN tt
        |  JOIN pri ON pri.lang = tot.lang
        |  LEFT JOIN dg ON dg.doc_id = ids.doc_id
        |  LEFT JOIN cnt ON cnt.lang = tot.lang AND cnt.gram = dg.gram
        |  GROUP BY ids.doc_id, ids.n_grams, tot.lang, tot.t, v.v, pri.nd, tt.total)
        |SELECT doc_id, CAST(n_grams AS INT) AS n_grams, lang AS lang_nb
        |FROM (SELECT *, row_number()
        |        OVER (PARTITION BY doc_id ORDER BY round(s, 6) DESC, lang) AS rk
        |      FROM sc)
        |WHERE rk = 1""".stripMargin,
    "tx_chunk" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(floor((length(text) - 1) / 150.0) AS BIGINT) AS mx
        |  FROM documents WHERE doc_id < 200 AND length(text) > 0),
        |e AS (SELECT doc_id, text, unnest(range(0, mx + 1)) AS i FROM b)
        |SELECT doc_id, CAST(i AS INT) AS chunk_no,
        |  substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk FROM e""".stripMargin,
    "tx_corpus_report" ->
      s"""SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(${tokSql("text")})) AS BIGINT) AS total_tokens,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         |  round(CAST(sum(CAST(round(round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |    / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) * 1000000) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1000000.0, 6) AS mean_alpha_ratio
         |FROM documents GROUP BY lang, source""".stripMargin,
    "tx_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(list_filter(regexp_split_to_array(text, ''), c -> c <> ''),
        |                   c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) END AS fingerprint
        |FROM documents""".stripMargin,
    // full-value: DuckDB's nfc_normalize + RE2 regexes mirror the engine's
    // codegen NfcNormalize + Java-regex pipeline step for step
    "tx_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    // full-value: positional 10-token segments, corpus-wide first
    // occurrence by (doc_id, seg_idx), ordered reassembly — the identical
    // grouping/window/rebuild pipeline in DuckDB terms
    "dd_segment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(L) AS tok, generate_subscripts(L, 1) AS i
         |  FROM (SELECT doc_id, ${tokSql("text")} AS L
         |        FROM documents WHERE text IS NOT NULL)),
         |segs AS (
         |  SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS seg_idx,
         |         string_agg(tok, ' ' ORDER BY i) AS seg_text
         |  FROM toks GROUP BY doc_id, seg_idx),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY seg_text
         |    ORDER BY doc_id, seg_idx) AS rk FROM segs),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(CASE WHEN rk = 1 THEN seg_text END, ' ' ORDER BY seg_idx)
         |      AS clean_text,
         |    count(*) FILTER (rk > 1) AS n_dropped
         |  FROM ranked GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // full-value: same list-arithmetic cosine as the dd_cosine /
    // ann_range_search mirrors; both engines round to 6 dp BEFORE the
    // threshold and the max aggregate (boundary parity)
    "dd_semantic_decontam" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE $usableVec),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |b AS (SELECT vec_id AS bench_id, v AS bv, nrm AS bnrm FROM n WHERE vec_id % 13 = 0),
        |c AS (SELECT vec_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 13 != 0),
        |s AS (SELECT c.vec_id,
        |        round(list_sum(list_transform(list_zip(cv, bv), p -> p[1] * p[2]))
        |          / (cnrm * bnrm), 6) AS cosine
        |      FROM c, b WHERE c.vec_id != b.bench_id)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits, max(cosine) AS max_cosine
        |FROM s WHERE cosine >= 0.3 GROUP BY vec_id""".stripMargin,
    // full-value: filename-derived id, byte length, and a content-equality
    // boolean the Spark side computes against the source rows. The
    // octet_length > 0 filter mirrors stageAssetFiles' skip of null/empty
    // text: Spark's file index drops zero-length files, so an empty asset
    // cannot exist through the binaryFile source on the Spark side either
    "mm_binary_ingest" ->
      """SELECT doc_id AS asset_id,
        |  CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
        |  true AS bytes_match
        |FROM documents
        |WHERE doc_id < 50 AND octet_length(encode(coalesce(text, ''))) > 0""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id AS asset_id, 'image' AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    // full-value: the staged images' dims/colorspace derive from the id
    // (width = 8 + id % 24, height = 8 + id % 17; grayscale PNG for odd
    // non-multiple-of-5 ids), so the REAL javax.imageio decode output is
    // SQL-predictable without touching the bytes
    "mm_decode" ->
      """SELECT doc_id AS asset_id,
        |  CAST(8 + doc_id % 24 AS INT) AS width,
        |  CAST(8 + doc_id % 17 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 5 <> 0 AND doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS channels
        |FROM documents WHERE doc_id < 50""".stripMargin,
    // full-value: the staged WAVs' audio format derives from the id
    // (rate = 8000 + id%8·1000, channels = 1 + id%2, 8-bit odd / 16-bit
    // even, frames = 100 + id%50), so the REAL javax.sound header parse
    // is SQL-predictable without touching the bytes
    "mm_audio_decode" ->
      """SELECT doc_id AS asset_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 16 END AS INT) AS bits_per_sample,
        |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id < 50""".stripMargin,
    // full-value: the staged MP4s' container fields derive from the id
    // (duration_ms = 1000 + id%60·500, width = 16 + id%32·2,
    // height = 16 + id%18·2, one track), so the REAL BMFF box walk is
    // SQL-predictable without touching the bytes
    "mm_video_decode" ->
      """SELECT doc_id AS asset_id,
        |  CAST(1000 + (doc_id % 60) * 500 AS BIGINT) AS duration_ms,
        |  CAST(16 + (doc_id % 32) * 2 AS INT) AS width,
        |  CAST(16 + (doc_id % 18) * 2 AS INT) AS height,
        |  CAST(1 AS INT) AS n_tracks
        |FROM documents WHERE doc_id < 50""".stripMargin,
    // frame spans are floor(n/frames) bytes each (Spark's double division
    // + int cast truncates; DuckDB mirrors with floor())
    "mm_frame_sample" ->
      """SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_no,
        |  CAST(floor(octet_length(encode(text)) / 4.0) AS INT) AS frame_len
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS f)
        |WHERE doc_id < 100""".stripMargin,
    "dd_curate" ->
      s"""WITH $curateCte
         |SELECT doc_id, alnum_tokens FROM survivors""".stripMargin,
    // the whole chain: curation CTEs → md5-hex sample cutoff → recursive
    // greedy pack per source — every constant shared with the Spark side
    "dd_pipeline" ->
      s"""WITH RECURSIVE $curateCte,
         |sampled AS (SELECT doc_id, source, alnum_tokens FROM survivors
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Mixing.rateCutoffHex(pipelineSampleRate)}'),
         |pt AS (SELECT source, doc_id, CAST(alnum_tokens AS BIGINT) AS n_tok,
         |       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |       FROM sampled),
         |pp AS (
         |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin, n_tok AS fill
         |  FROM pt WHERE rn = 1
         |  UNION ALL
         |  SELECT pt.source, pt.doc_id, pt.n_tok, pt.rn,
         |    CASE WHEN pp.fill + pt.n_tok > $packCapacity
         |         THEN pp.bin + 1 ELSE pp.bin END,
         |    CASE WHEN pp.fill + pt.n_tok > $packCapacity
         |         THEN pt.n_tok ELSE pp.fill + pt.n_tok END
         |  FROM pp JOIN pt ON pt.source = pp.source AND pt.rn = pp.rn + 1)
         |SELECT source, doc_id, n_tok, bin FROM pp""".stripMargin
  )

  /** DuckDB CTE chain of the curation pipeline (language gate → quality
    * gate → exact dedup → near-dup removal), ending in `survivors`
    * (doc_id, source, alnum_tokens) — embedded by the dd_curate and
    * dd_pipeline oracles. */
  private lazy val curateCte: String =
    s"""lang AS ($langidSql),
       |q AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars,
       |        round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS alpha_ratio
       |      FROM documents),
       |tc AS (SELECT doc_id, CAST(len(${tokSql("text")}) AS INT) AS alnum_tokens FROM documents),
       |kept AS (SELECT d.doc_id, d.source, d.text, tc.alnum_tokens FROM documents d
       |         JOIN q ON d.doc_id = q.doc_id
       |         JOIN lang ON d.doc_id = lang.doc_id
       |         JOIN tc ON d.doc_id = tc.doc_id
       |         WHERE lang.lang_pred = 'en' AND q.alpha_ratio >= 0.6 AND q.n_chars >= 100),
       |ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
       |kept2 AS (SELECT k.doc_id, k.source, k.text, k.alnum_tokens FROM kept k
       |          JOIN ex ON k.doc_id = ex.doc_id),
       |csh AS (SELECT doc_id, list_distinct(CASE WHEN len(tok) >= 3
       |         THEN list_transform(range(0, len(tok) - 2),
       |              i -> concat(tok[CAST(i AS INT)+1], ' ', tok[CAST(i AS INT)+2], ' ', tok[CAST(i AS INT)+3]))
       |         ELSE [array_to_string(tok, ' ')] END) AS sh
       |       FROM (SELECT doc_id, ${tokSql("text")} AS tok FROM kept2)),
       |cexx AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM csh),
       |cpairs AS (SELECT a.doc_id AS idA, b.doc_id AS idB, a.n_sh AS nA, b.n_sh AS nB,
       |                 count(*) AS shared
       |          FROM cexx a JOIN cexx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2, 3, 4),
       |losers AS (SELECT DISTINCT idB AS doc_id FROM cpairs
       |           WHERE CAST(shared AS DOUBLE) / (nA + nB - shared) >= 0.5),
       |survivors AS (SELECT doc_id, source, alnum_tokens FROM kept2
       |              WHERE doc_id NOT IN (SELECT doc_id FROM losers))""".stripMargin
}
