package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.IO

/** Persisted BM25 inverted index — the serve path of lexical retrieval,
  * the retrieval analog of the IVF vector store: build the index once,
  * maintain it by O(delta) appends, and answer a query by reading ONLY
  * the query terms' posting buckets instead of rescanning the corpus and
  * recomputing df/avgdl per call (what [[TextAnalysis.bm25]] does — the
  * right shape for one-shot batch scoring, the wrong one for a
  * hybrid-retrieval serving loop at 100 TB).
  *
  * Layout — one manifest-committed partitioned store
  * ([[graft.io.IO.writePartitionedStore]] with a TRUSTED routing column):
  *
  *   - postings, bucketed by `pmod(xxhash64(term), termBuckets)`: one row
  *     per (term, doc_id) with its term frequency and the doc's token
  *     count (`dl`, denormalized so serve never joins a doc-length
  *     table). All of a term's postings live in exactly one bucket, so
  *     its document frequency is EXACT under a pruned read.
  *   - one REGISTRY row per document (sentinel term [[DocTerm]]), routed
  *     by doc hash across the same bucket space: the maintenance
  *     locate's handle on docs that left no posting trail, so
  *     delete/upsert stats compensation is exact for token-less and
  *     null-text docs too. Serve paths filter both sentinels out.
  *   - corpus stats, in one RESERVED bucket (id = `termBuckets`): each
  *     build/append writes a single delta row (docs added, docs with a
  *     token surface, total token count). Serve sums the deltas — a few
  *     tiny rows — into exact `n_docs`/`avgdl`. Riding in the SAME
  *     committed generation as the postings makes postings+stats ATOMIC:
  *     no crash window where one is visible without the other, and time
  *     travel reads a consistent (postings, stats) pair at any version.
  *
  * Scale shape: the build is the standard inverted-index shuffle (one
  * map-side-combined groupBy on (term, doc_id)); an append indexes only
  * the delta and commits through the store's optimistic manifest loop;
  * serve reads ≤ |query terms| + 1 bucket directories (file-list-level
  * pruning through the manifest — plan-audited in TextAnalysisSpec),
  * then one WIDTH-CONSTANT per-doc aggregation over just those postings
  * (per-posting contributions folded in query-term order — see
  * [[scores]]), so the serve plan is independent of query length.
  *
  * Score parity: each posting's contribution is the identical scalar
  * arithmetic as [[TextAnalysis.bm25ScoreCols]]' per-term `w(i)`, on the
  * same double-cast inputs, and the per-doc fold reproduces the wide
  * tree's left-assoc sum exactly (absent terms add exact +0.0 there,
  * invisible to IEEE addition), so pruned-serve scores equal full-scan
  * scores bit-for-bit — pinned by the `tx_bm25_store` oracle, which is
  * the full-scan recomputation.
  */
object Bm25Store {

  /** Sentinel term for corpus-stats delta rows. Cannot collide with a
    * real posting: [[TextAnalysis.tokens]] terms are lowercase-alnum
    * runs, so an uppercase/underscore string is outside the token
    * alphabet. */
  private[llm] val StatsTerm = "__STATS__"

  /** Sentinel term for per-document REGISTRY rows — one per indexed doc,
    * routed by DOC hash into the term-bucket space (any bucket works for
    * a row only the maintenance locate ever reads; spreading by doc hash
    * keeps a k-doc delete's touched-bucket set O(k), never one fat
    * bucket). The registry is what makes delete/upsert stats EXACT for
    * token-less and null-text docs: such a doc leaves no posting trail,
    * so without its registry row the locate could never un-count it from
    * `n_docs` (the drift the old aggregate-stats layout documented as a
    * caveat). Serve paths never read registry rows (both sentinel terms
    * are excluded from the posting filter — outside the token alphabet,
    * and filtered explicitly in case a caller passes one as a "term"). */
  private[llm] val DocTerm = "__DOC__"

  private def termBucket(termBuckets: Int) =
    pmod(xxhash64(col("term")), lit(termBuckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucket]]: the same XxHash64 (Spark's
    * default seed 42) over the term's UTF-8 bytes, then the same pmod —
    * so the serve path can resolve its probe buckets without launching a
    * Spark job per query. Driver/executor agreement is pinned by a
    * TextAnalysisSpec case over ASCII and non-ASCII terms. */
  private[graft] def termBucketLocal(term: String, termBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    val m = h % termBuckets
    (if (m < 0) m + termBuckets else m).toInt
  }

  /** Tokenized per-doc base frame (doc_id, toks, dl) shared by the three
    * branches of [[indexRows]] — CACHED for the duration of `body`
    * (optimization round 15, guide §1.2 "don't compute things twice"):
    * postings, registry, and stats each scan the base, so an uncached
    * base re-tokenized the batch three times per build/append/upsert
    * (and the upsert's per-OCC-attempt stats row a fourth). Caching is
    * content-neutral: every downstream consumer is an aggregation or a
    * per-row projection, so row order cannot reach any result. The write
    * ops are eager, so the unpersist is safe at `body` exit. */
  private def withIndexBase[T](docs: DataFrame, textCol: String)(
      body: DataFrame => T): T = {
    val base = docs.select(col("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      // ANSI size(null) = null: a null-text doc has no `dl` (it is skipped
      // by the full scan's avg(dl) too) but still counts toward n_docs
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      .cache()
    try body(base) finally base.unpersist(blocking = false)
  }

  /** Postings + one registry row per doc + one stats-delta row for a
    * document batch, carrying the store's trusted routing column. Shared
    * by build, append, and upsert; `base` comes from [[withIndexBase]].
    *
    * Registry rows additionally carry `postb` — the doc's DISTINCT
    * posting-bucket set (optimization round 15, VERDICT item 4): the
    * maintenance locate resolves a doc's touched term buckets from its
    * registry row alone (one pruned read of the ids' doc-hash buckets)
    * instead of scanning every term bucket's id column. The invariant —
    * postb covers exactly the buckets holding the doc's current postings
    * — is structural: registry and postings derive from the same token
    * frame and ride the same atomic commit (build/append/upsert all write
    * them together; delete removes them together; compaction is
    * byte-identical), pinned by a TextAnalysisSpec coverage test. */
  private def indexRows(base: DataFrame, termBuckets: Int): DataFrame = {
    val nullLong = lit(null).cast("long")
    val nullBuckets = lit(null).cast("array<int>")
    val posts = base.where(col("dl") > 0)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl").cast("long").as("dl"),
        nullLong.as("n_docs"), nullLong.as("n_dl"), nullLong.as("sum_dl"),
        nullBuckets.as("postb"),
        termBucket(termBuckets).as(IO.BucketCol))
    // one registry row per doc (see [[DocTerm]]): carries the doc's `dl`
    // (NULL for a null-text doc) so the maintenance locate can derive the
    // exact stats compensation for EVERY doc, posting trail or not — and
    // the doc's posting-bucket set (`postb`, empty for a token-less doc)
    // so the locate never scans a posting bucket
    val registry = base
      .select(lit(DocTerm).as("term"), col("doc_id"),
        nullLong.as("tf"), col("dl").cast("long").as("dl"),
        nullLong.as("n_docs"), nullLong.as("n_dl"), nullLong.as("sum_dl"),
        when(col("dl") > 0, array_distinct(transform(col("toks"),
            t => pmod(xxhash64(t), lit(termBuckets.toLong)).cast("int"))))
          .otherwise(array().cast("array<int>")).as("postb"),
        pmod(xxhash64(col("doc_id")), lit(termBuckets.toLong)).cast("int")
          .as(IO.BucketCol))
    val stats = base.agg(
        count(lit(1)).as("n_docs"),          // every doc, null-text included
        count(col("dl")).as("n_dl"),         // docs with a token surface
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"))
      .select(lit(StatsTerm).as("term"), lit(-1L).as("doc_id"),
        nullLong.as("tf"), nullLong.as("dl"),
        col("n_docs"), col("n_dl"), col("sum_dl"),
        nullBuckets.as("postb"),
        lit(termBuckets).as(IO.BucketCol))
    posts.unionByName(registry).unionByName(stats)
  }

  /** Build the index over `docs`. The persisted bucket-count marker is
    * `termBuckets + 1` (term buckets [0, termBuckets) plus the reserved
    * stats bucket) — serve derives `termBuckets` back from it.
    *
    * `termBuckets = 0` sizes the bucket count to the corpus:
    * `max(64, ⌈√n_docs⌉)` — the same √n rule as the IVF store's
    * autoCells, and for the same reason: with buckets ∝ √n both the
    * bucket COUNT (manifest/listing metadata) and the per-bucket posting
    * volume (what one serve actually reads per query term) grow √n, so
    * neither side of the store degenerates as the corpus scales.
    * ScaleProbe measures the resulting serve-wall ratio at 1×/10×. */
  def write(docs: DataFrame, path: String, termBuckets: Int = 64,
            textCol: String = "text"): Unit = {
    require(termBuckets >= 0, s"termBuckets must be >= 0; got $termBuckets")
    val nB = if (termBuckets > 0) termBuckets
             else math.max(64L, math.ceil(math.sqrt(
               docs.count().toDouble)).toLong).toInt
    withIndexBase(docs, textCol) { base =>
      IO.writePartitionedStore(indexRows(base, nB), path,
        keys = Seq("term", "doc_id"), nBuckets = nB + 1)
    }
  }

  /** Index a delta of NEW documents: O(delta) postings + one stats-delta
    * row, committed atomically through the store's optimistic manifest
    * append — no existing file is read or rewritten. Caller contract, as
    * for every append-maintained index here: delta doc_ids are new (a
    * re-indexed doc needs a delete+append or a rebuild). */
  def append(delta: DataFrame, path: String, textCol: String = "text"): Unit = {
    val spark = delta.sparkSession
    val termBuckets = IO.storeBuckets(path) - 1
    withIndexBase(delta, textCol) { base =>
      IO.appendPartitionedStore(spark, path,
        indexRows(base, termBuckets), keys = Seq("term", "doc_id"))
    }
  }

  /** BM25 scores of every indexed doc matching ≥ 1 query term — the same
    * (doc_id, n_hit_terms, bm25) surface and the same VALUES as
    * [[TextAnalysis.bm25]] over the indexed corpus, computed from a read
    * of only the query terms' buckets plus the stats bucket.
    *
    * WIDTH-CONSTANT: the full scan pivots to per-doc `tf_0..tf_n`
    * columns — fine for its one-shot batch shape, but an aggregation
    * whose width grows with the query would cap the serve path at
    * retrieval-sized queries (a decontamination-style probe carries
    * thousands of terms). Serve instead scores each (doc, term
    * occurrence) posting ROW with the identical per-term arithmetic and
    * folds the contributions per doc in query-term order. Bit-for-bit
    * parity with [[TextAnalysis.bm25ScoreCols]]'s left-assoc sum is by
    * construction: the fold runs over `sort_array`-ordered (index,
    * contribution) pairs from 0.0, and the wide tree's absent-term
    * addends are exact +0.0, which IEEE addition cannot observe —
    * pinned by the `tx_bm25_store` oracle (the full-scan recomputation)
    * and TextAnalysisSpec's duplicate/long-query cases. */
  def scores(spark: SparkSession, path: String, queryTerms: Seq[String],
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params ($k1, $b)")
    // a sentinel passed as a "term" would match registry/stats rows whose
    // NULL tf/dl poison the per-doc fold — outside the token alphabet, so
    // a caller passing one holds a bug, not a query
    require(!queryTerms.contains(StatsTerm) && !queryTerms.contains(DocTerm),
      s"query terms may not contain the reserved sentinels $StatsTerm/$DocTerm")
    val termBuckets = IO.storeBuckets(path) - 1
    // the terms' buckets, computed DRIVER-SIDE with the write side's hash
    // (termBucketLocal ≡ termBucket, spec-pinned): |terms| integer hashes
    // instead of a Spark job on the serve path
    val probed = queryTerms.map(termBucketLocal(_, termBuckets)).toSet
    val pruned = IO.readStoreBuckets(spark, path, probed + termBuckets)
      .drop(IO.BucketCol)
    // the isin literal pushes into the pruned buckets' parquet scan
    val posts = pruned.where(col("term").isin(queryTerms: _*))
    // exact corpus stats from the summed delta rows (one per build/append)
    val corpus = pruned.where(col("term") === StatsTerm)
      .agg(sum("n_docs").cast("double").as("n_docs"),
        (sum("sum_dl").cast("double") / sum("n_dl").cast("double")).as("avgdl"))
    // per-term df: a term's postings all live in its (probed) bucket, so
    // this pruned count is the exact corpus document frequency
    val dfByTerm = posts.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    // one row per query-term OCCURRENCE: a duplicated query term joins its
    // posting twice and scores twice, exactly like the full scan's
    // per-index tf_i columns
    import spark.implicits._
    val termsDf = queryTerms.zipWithIndex.toDF("term", "ti")
    // per-occurrence contribution — the SHARED [[contribution]] tree
    // (same scalar arithmetic, same double-cast inputs, as
    // bm25ScoreCols' w(i)); broadcasts here are bounded by ONE query's
    // terms, unlike the batch serve's open-ended vocabulary
    val contribs = posts.select("term", "doc_id", "tf", "dl")
      .join(broadcast(termsDf), Seq("term"))
      .join(broadcast(dfByTerm), Seq("term"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("ti"), contribution(k1, b).as("c"))
    contribs.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_hit_terms"), foldedScore.as("bm25"))
      .where(col("n_hit_terms") > 0)
  }

  /** BATCH serve: score MANY queries in ONE pruned read — the shape a
    * hybrid-retrieval or decontamination loop actually runs at scale,
    * where [[scores]]' one-Spark-job-per-query would make the DRIVER the
    * bottleneck (10k queries = 10k job submissions however fast each
    * serve is). `queries` carries (`query_id`, `terms` array<string>);
    * output is (query_id, doc_id, n_hit_terms, bm25) with the IDENTICAL
    * per-posting arithmetic and per-doc query-term-ordered fold as the
    * single serve, so each query's rows equal its own [[scores]] call
    * bit-for-bit (TextAnalysisSpec pins it).
    *
    * Scale shape: the batch's distinct term BUCKETS collect driver-side
    * (bounded by the store's bucket count — √n by the auto-sizing rule —
    * never by batch size); one manifest-pruned read covers every query;
    * postings semi-join down to the batch's terms before the df
    * aggregate; the contribution join keys on `term`, so a corpus-scale
    * batch shuffles on the term instead of broadcasting anything
    * unbounded. A query with a NULL/empty term list produces no rows
    * (nothing to probe). Duplicate terms WITHIN one query score twice,
    * exactly like [[scores]]' per-occurrence columns. */
  def scoresBatch(spark: SparkSession, path: String, queries: DataFrame,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params ($k1, $b)")
    val termBuckets = IO.storeBuckets(path) - 1
    // fail fast on a duplicated query_id: posexplode would merge both
    // rows' occurrences into one blended query that corresponds to
    // neither input (same silent-merge rationale as upsert's guard).
    // NULL query_ids are dropped — an unkeyable query has no result row
    // to attach to.
    val occRaw = IO.requireUniqueSourceKeys(queries, Seq("query_id"))
      .where(col("query_id").isNotNull)
      .select(col("query_id"), posexplode(col("terms")).as(Seq("ti", "term")))
      .where(col("term").isNotNull)
    // bounded driver collect: DISTINCT probed buckets, ≤ termBuckets ints
    // by construction — the batch-size-independent analog of
    // ivfStoreTopK's probed-cell union. The frame stays LAZY (no pinned
    // checkpoint blocks to leak across a long-lived serving session); the
    // consistency the pin used to buy — the pruned read and the
    // contribution join must see the SAME term set — is enforced by the
    // raise_error guard below instead: a caller whose query lineage
    // re-evaluates NONdeterministically (a term surfacing whose bucket
    // this collect never probed) fails LOUDLY at the join instead of
    // silently missing hits.
    val probed = occRaw.select(termBucket(termBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val occ = occRaw.withColumn("term",
      when(termBucket(termBuckets).isin(probed.toSeq.map(Integer.valueOf): _*),
        col("term")).otherwise(raise_error(concat(
          lit("scoresBatch: term '"), col("term"),
          lit("' hashes outside the probed bucket set — the queries frame " +
            "re-evaluated nondeterministically between the bucket collect " +
            "and the serve; pin it (cache/localCheckpoint) caller-side")))
          .cast("string")))
    val pruned = IO.readStoreBuckets(spark, path, probed + termBuckets)
      .drop(IO.BucketCol)
    val posts = pruned.where(col("term") =!= StatsTerm && col("term") =!= DocTerm)
      .join(occ.select("term").distinct(), Seq("term"), "left_semi")
    val corpus = pruned.where(col("term") === StatsTerm)
      .agg(sum("n_docs").cast("double").as("n_docs"),
        (sum("sum_dl").cast("double") / sum("n_dl").cast("double")).as("avgdl"))
    // exact df per batch term — same pruned-count argument as [[scores]].
    // NO broadcast hint: the frame grows with the batch's distinct
    // vocabulary (a decontamination batch carries thousands of terms per
    // query), so the join strategy is AQE's size-based call — a small
    // batch auto-broadcasts, a corpus-scale one shuffles on the term.
    val dfByTerm = posts.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    posts.select("term", "doc_id", "tf", "dl")
      .join(occ, Seq("term"))
      .join(dfByTerm, Seq("term"))
      .crossJoin(broadcast(corpus))
      .select(col("query_id"), col("doc_id"), col("ti"),
        contribution(k1, b).as("c"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_hit_terms"), foldedScore.as("bm25"))
      .where(col("n_hit_terms") > 0)
  }

  /** Per-occurrence BM25 contribution — ONE definition shared by the
    * single and batch serves, so their bit-for-bit parity is structural
    * (the identical Column tree), not a convention a future edit to one
    * copy could drift from. Expects columns tf, dl, df, n_docs, avgdl. */
  private def contribution(k1: Double, b: Double): org.apache.spark.sql.Column = {
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * dld / col("avgdl")))
  }

  /** The per-doc query-term-ordered fold of (ti, c) contributions —
    * shared by both serves for the same structural-parity reason as
    * [[contribution]]. */
  private def foldedScore: org.apache.spark.sql.Column =
    round(aggregate(sort_array(collect_list(struct(col("ti"), col("c")))),
      lit(0.0), (acc, x) => acc + x.getField("c")), 4)

  /** Per-query top-k over [[scoresBatch]] (score desc, doc_id asc —
    * deterministic): one window over the already-pruned score set, the
    * batch analog of [[topK]]. The output CARRIES the per-query `rank`
    * column (1 = best) deliberately — it is exactly the (idCol, rankCol)
    * surface [[Ann.rrfFuse]] consumes, sparing the hybrid loop a second
    * window; single-serve [[topK]] callers that union against this drop
    * it explicitly. */
  def topKBatch(spark: SparkSession, path: String, queries: DataFrame,
                k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    import org.apache.spark.sql.expressions.Window
    scoresBatch(spark, path, queries, k1, b)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("bm25").desc, col("doc_id").asc)))
      .where(col("rank") <= k)
  }

  /** Top-k serve: [[scores]] bounded to the k best (score desc, doc_id
    * asc — deterministic) — the shape a hybrid-retrieval loop feeds into
    * [[Ann.rrfFuse]]. A TakeOrderedAndProject over the pruned score set,
    * never a global sort. */
  def topK(spark: SparkSession, path: String, queryTerms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    scores(spark, path, queryTerms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
  }

  /** The negative stats-delta row compensating the removal of the
    * located documents — derived PER OPTIMISTIC ATTEMPT from the
    * freshly-located rows (a pinned compensation from a stale locate
    * would commit wrong corpus stats after a lost race). One row per
    * call, routed to the stats bucket; empty when nothing was located so
    * the whole op stays a no-op. EXACT for every doc, posting trail or
    * not: the per-doc registry row ([[DocTerm]]) locates token-less and
    * null-text docs too, so `n_docs` un-counts them (its `dl` is NULL
    * for a null-text doc, so `n_dl`/`sum_dl` compensate only docs with a
    * token surface — mirroring the positive delta's count(dl)/sum(dl)). */
  private def negStatsFromLocated(termBuckets: Int)(located: DataFrame): DataFrame = {
    val nullLong = lit(null).cast("long")
    // distinct (doc_id, dl): a doc's registry row and all its postings
    // carry the identical dl, so each doc collapses to one row
    located.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n"), count(col("dl")).as("ndl"),
        coalesce(sum("dl"), lit(0L)).as("s"))
      .where(col("n") > 0)
      .select(lit(StatsTerm).as("term"), lit(-1L).as("doc_id"),
        nullLong.as("tf"), nullLong.as("dl"),
        (-col("n")).as("n_docs"), (-col("ndl")).as("n_dl"),
        (-col("s")).as("sum_dl"), lit(null).cast("array<int>").as("postb"),
        lit(termBuckets).as(IO.BucketCol))
  }

  /** Locate closure for the routed delete/upsert — REGISTRY-ONLY
    * (optimization round 15, VERDICT item 4): resolve the ids' CURRENT
    * rows as (doc_id, dl, bucket) from their registry rows alone. The
    * ids' registry buckets are a pure doc-hash function (one tiny
    * bounded-by-termBuckets collect), so the read prunes to those
    * buckets; each located registry row then EXPLODES to one row per
    * touched bucket — its own bucket plus the doc's recorded
    * posting-bucket set (`postb`) — which is exactly the
    * (key, bucket) surface the routed rewrite needs (the anti-join
    * removes by doc_id WITHIN touched buckets, so per-posting rows were
    * never required). Replaces a column-pruned scan of EVERY term
    * bucket's id column — O(store) however small the delta — with
    * O(delta registry rows): the locate now reads the registry only.
    * Re-run per OCC attempt against the then-current manifest, as
    * before.
    *
    * Fail-loud edges: an id of -1 is the stats-row sentinel (silently
    * filtering it would let an upsert insert a doc whose old rows were
    * never located); a registry row with NULL `postb` but a token
    * surface means the store predates the posting-bucket registry — a
    * pruned locate against it would strand postings, so it raises
    * instead (rebuild the store). */
  private def locateDocs(spark: SparkSession, path: String, termBuckets: Int,
                         ids: DataFrame): () => DataFrame = {
    val keySet = broadcast(ids.select(col("doc_id").cast("long").as("doc_id"))
      .where(col("doc_id").isNotNull) // unkeyable — can match no row
      .distinct()
      .select(when(col("doc_id") =!= -1L, col("doc_id"))
        .otherwise(raise_error(lit("doc_id -1 is the reserved stats-row " +
          "sentinel — it cannot be indexed, deleted, or upserted"))
          .cast("long")).as("doc_id")))
    () => {
      // the ids' registry buckets: pure doc-hash arithmetic, ≤ termBuckets
      // distinct values by construction — same bounded-collect shape as
      // scoresBatch's probed-bucket set
      val regBuckets = keySet
        .select(pmod(xxhash64(col("doc_id")), lit(termBuckets.toLong))
          .cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val reg = IO.readStoreBuckets(spark, path, regBuckets)
        .where(col("term") === DocTerm)
        .join(keySet, Seq("doc_id"))
      val pb = when(col("postb").isNotNull, col("postb"))
        .when(col("dl").isNull || col("dl") <= 0, array().cast("array<int>"))
        .otherwise(raise_error(lit("registry row without a posting-bucket " +
          "list — this store predates the registry-postb layout; rebuild " +
          "it before routed maintenance")).cast("array<int>"))
      reg.select(col("doc_id"), col("dl"),
        explode(array_union(pb, array(col(IO.BucketCol)))).as(IO.BucketCol))
    }
  }

  /** Keyed DELETE — remove every posting of the given doc ids AND write
    * the compensating corpus-stats delta in ONE atomic manifest commit
    * (the takedown path a training-data index needs, mirroring
    * [[Ann.deleteFromVectorStore]]). The index routes by TERM hash, so a
    * doc's postings spread across many buckets: the locate is one
    * column-pruned (doc_id, dl, bucket) scan of the term buckets joined
    * to the broadcast id set, then ONLY the touched buckets anti-join
    * and rewrite through the optimistic manifest loop — O(id-column scan
    * + touched buckets' postings), never O(store); pre-delete versions
    * stay time-travel-readable until vacuum. Served scores afterwards
    * equal a from-scratch rebuild on the surviving corpus bit-for-bit
    * (same summed-stats, same per-posting arithmetic) — for EVERY doc,
    * token-less and null-text included, via the per-doc registry row
    * ([[DocTerm]]). No-op when no id is indexed. */
  def delete(spark: SparkSession, path: String, docIds: DataFrame): Unit = {
    val termBuckets = IO.storeBuckets(path) - 1
    IO.routedRewrite(spark, path, locateDocs(spark, path, termBuckets, docIds),
      newRows = None, keys = Seq("doc_id"),
      extraRowsFromLocated = Some(negStatsFromLocated(termBuckets)))
  }

  /** RE-INDEX upsert — each delta doc's postings REPLACE whatever the
    * store holds for its doc_id (an edited document re-tokenizes to a
    * different posting set, often in different term buckets — exactly why
    * this cannot be an in-place per-bucket update), novel doc_ids insert,
    * and the corpus stats adjust, all in ONE atomic manifest commit: a
    * racing reader resolves the pre- or post-upsert version, never a
    * deleted-but-not-reinserted middle. The lexical twin of
    * [[Ann.upsertVectorStore]]. Cost: the locate scan + O((old ∪ new
    * touched term buckets)' rows). Stats: +1 per delta doc, −1 per
    * REPLACED doc — exact for every doc, token-less included, because
    * the locate resolves the per-doc registry row ([[DocTerm]]), not
    * just postings. A delta doc with null/token-less NEW text keeps its
    * registry row (it is still a corpus document, counted in n_docs
    * exactly as a fresh build would) but serves no postings. */
  def upsert(delta: DataFrame, path: String, textCol: String = "text"): Unit = {
    val spark = delta.sparkSession
    val termBuckets = IO.storeBuckets(path) - 1
    // one row per doc_id, enforced with the standard MERGE fail-fast: a
    // duplicated delta doc would MERGE its duplicate texts' tokens in the
    // tf groupBy (silently doubled counts) and double-count n_docs
    withIndexBase(IO.requireUniqueSourceKeys(delta, Seq("doc_id")), textCol) { base =>
      val rows = indexRows(base, termBuckets)
      val posts = rows.where(col("term") =!= StatsTerm)
      // the delta's own (+) stats row is constant but rides with the
      // per-attempt (−) compensation so both commit (or retry) together;
      // dropped for an empty delta so the op stays a no-op
      val posStats = rows.where(col("term") === StatsTerm && col("n_docs") > 0)
      IO.routedRewrite(spark, path,
        locateDocs(spark, path, termBuckets, delta.select("doc_id")),
        newRows = Some(posts), keys = Seq("doc_id"),
        insertKeys = Seq("term", "doc_id"),
        extraRowsFromLocated = Some(located =>
          posStats.unionByName(negStatsFromLocated(termBuckets)(located))))
    }
  }

  /** Compact the index's fragmented buckets — the OPTIMIZE step the
    * [[staleness]] report's fragmentation columns exist to trigger:
    * every append adds a generation to each touched term bucket (and one
    * stats-delta row to the stats bucket), so a year of daily deltas
    * makes every query-term read list + open many small files. Delegates
    * to [[graft.io.IO.compactPartitionedStore]] — content byte-identical
    * (the stats bucket's delta ROWS are preserved, merely co-located, so
    * the summed corpus stats and every served score are unchanged —
    * pinned in TextAnalysisSpec), committed through the same optimistic
    * manifest loop as every merge, O(fragmented buckets' data) never
    * O(store). */
  def compact(spark: SparkSession, path: String, maxGensPerBucket: Int = 1): Unit =
    IO.compactPartitionedStore(spark, path, maxGensPerBucket)

  /** Staleness report for an append-maintained BM25 index — the lexical
    * sibling of [[Ann.vectorStoreStaleness]], with one structural
    * difference: BM25 scores DO NOT age under append (the serve derives
    * idf and avgdl from the SUMMED stats-delta rows, so appended docs
    * score exactly as a rebuild would — pinned by the tx_bm25_store
    * oracle). What ages is the LAYOUT: every append adds a generation to
    * each touched term bucket, so probed reads list and open ever more
    * small files. The report therefore carries the growth accounting
    * (docs at build vs now, from the stats rows) and the fragmentation
    * pressure (buckets over one generation, worst generation count) —
    * the inputs to the compaction decision, not a quality alarm.
    *
    * One row: (n_docs_build, n_docs_now, appended_frac,
    * fragmented_buckets, max_gens). Cost: two PRUNED stats-bucket reads
    * (one row per build/append each) + a manifest scan — O(appends),
    * never O(postings). */
  def staleness(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val termBuckets = IO.storeBuckets(path) - 1
    // fails loudly after vacuum — see Ann.stalenessBaseline
    val v1 = Ann.stalenessBaseline(spark, path)
    def nDocs(df: DataFrame): Long = df
      .where(col("term") === StatsTerm)
      .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    val build = nDocs(IO.readStoreBucketsAt(spark, path, v1, Set(termBuckets)))
    val now = nDocs(IO.readStoreBuckets(spark, path, Set(termBuckets)))
    val gens = IO.storeBucketGenerations(spark, path)
      .filter { case (b, _) => b != termBuckets } // stats bucket's own
                                                  // gens are the append
                                                  // count, not posting
                                                  // fragmentation
    val fragmented = gens.count(_._2 > 1)
    val maxGens = if (gens.isEmpty) 0 else gens.values.max
    // HALF_UP like SQL ROUND (and Spark's round()), so the emitted frac
    // is oracle-comparable — math.rint's half-even would diverge on an
    // exact .5e-6 boundary
    val frac = if (now == 0L) 0.0
      else BigDecimal((now - build).toDouble / now)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((build, now, frac, fragmented.toLong, maxGens.toLong))
      .toDF("n_docs_build", "n_docs_now", "appended_frac",
        "fragmented_buckets", "max_gens")
  }
}
