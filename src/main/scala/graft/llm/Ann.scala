package graft.llm

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.io.IO
import graft.obs

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]` in the `embeddings` fixture).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *  - [[bruteTopK]]: exact cosine top-k — the correctness baseline. The
  *    query set is broadcast (queries ≪ corpus); the corpus is scanned once,
  *    scores computed in a narrow codegen'd map, and the only shuffle is the
  *    per-query top-k (k rows per query per partition after the window's
  *    partial rank pushdown).
  *  - [[lshTopK]]: random-hyperplane-bucketed candidates then exact re-rank —
  *    the scale path: the corpus is hashed once, candidates come from a
  *    bucket equi-join, and only candidates are scored. Recall vs
  *    [[bruteTopK]] is property-tested in `AnnSpec`.
  */
object Ann {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** A vector participates in cosine-space ops iff it is non-null, has a
    * nonzero norm, AND carries no NaN component. A zero vector has no
    * direction: its cosine is 0/0 = NaN, and Spark's NaN-is-greatest
    * ordering would rank it ABOVE every real neighbor (and pass every
    * `>= threshold` filter) while the SQL oracle excludes it — the exact
    * divergence the null-fixture sweep caught. A NaN COMPONENT reaches
    * the same divergence through a different door: NaN is non-null and
    * `NaN =!= 0` is true, so without its own guard a NaN-bearing vector
    * slips past both earlier conjuncts and its NaN cosine again ranks
    * first. A NULL COMPONENT is the third door: its products NULL out
    * the whole dot-product aggregate, and a bare `isnan` conjunct would
    * return NULL (not false) for such a vector — three-valued logic then
    * leaves engine and oracle free to disagree on whether the row
    * survives. An INFINITE component is the fourth door: ±Inf is
    * non-null, nonzero, and NOT NaN, so it slips all three earlier
    * conjuncts — but its cosine is Inf/Inf = NaN (the same
    * NaN-is-greatest divergence), and it must never reach a KMeans fit
    * or an int8 quantizer; the oracle mirrors it as `isinf(x)`. The
    * lambda `x.isNull || isnan(x) || abs(x) = +Inf` is never NULL, so
    * the exists is two-valued and both engines exclude identically.
    * `exists` short-circuits (first nonzero / first bad component), so
    * the filter is one cheap codegen pass at the scan. */
  private[graft] def cosineUsable(vecCol: Column): Column =
    vecCol.isNotNull && exists(vecCol, x => x =!= lit(0.0f)) &&
      !exists(vecCol, x => x.isNull || isnan(x) ||
        abs(x.cast("double")) === lit(Double.PositiveInfinity))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the codegen [[graft.functions.CosineSim]] kernel — HOF
    * lambdas evaluate interpreted, ~3·dim closure calls per pair; the
    * expression form is one tight loop inside whole-stage codegen and
    * reproduces the HOF accumulation order bit-for-bit (`AnnSpec`). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Exact cosine top-k: for each query vector, the k highest-cosine corpus
    * rows (query itself excluded). Scores are rounded before ranking so the
    * ranking is reproducible across engines; ties break on corpus id. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosine(col("cv"), col("qv")), 4).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Maximal-marginal-relevance (MMR) diverse top-k: re-rank each query's
    * exact top-`m` candidates by greedily picking
    * `argmax λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` — the standard
    * redundancy-penalized retrieval selection (Carbonell & Goldstein,
    * SIGIR 1998), the piece a dedup-heavy corpus needs so k near-identical
    * neighbors don't crowd out coverage.
    *
    * Scale shape: the candidate stage is the same broadcast-query scan +
    * ranked window as [[bruteTopK]] (swap in the IVF path for a large
    * corpus — only the per-query top-m matters downstream); the greedy
    * runs MAP-SIDE on each query's collected m-candidate array — O(k·m·dim)
    * per query, independent of corpus size, no extra shuffle beyond the
    * per-query grouping the candidate window already paid for.
    *
    * Deterministic: candidates sort (cosine desc, nn_id asc) before the
    * greedy; argmax ties break the same way. First pick is always the
    * exact top-1 (empty-S penalty is zero), and the emitted `mmr_score`
    * sequence is non-increasing in rank (each pick only grows the
    * penalty every remaining candidate faces) — both pinned by AnnSpec
    * and the `ann_mmr_topk` contract. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 30,
              lambda: Double = 0.7,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && m >= k && lambda >= 0.0 && lambda <= 1.0)
    val c = corpus.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)
    val cands = c.crossJoin(broadcast(q))
      .where(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"), col("cv"),
        round(cosine(col("cv"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= m)
    val sel = udf { (rows: Seq[org.apache.spark.sql.Row], kk: Int, lam: Double) =>
      val cs = rows.map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }.sortBy { case (id, _, cos) => (-cos, id) }.toArray
      def sim(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        val d = math.sqrt(na) * math.sqrt(nb)
        if (d == 0.0) 0.0 else dot / d
      }
      val picked = new scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
      // max similarity to the selected set so far, per remaining candidate
      val maxSel = Array.fill(cs.length)(0.0)
      val used = Array.fill(cs.length)(false)
      var step = 0
      while (step < math.min(kk, cs.length)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          if (!used(i)) {
            val s = lam * cs(i)._3 - (1 - lam) * (if (step == 0) 0.0 else maxSel(i))
            // ties: higher raw cosine, then lower id (cs is sorted that way,
            // so strict > keeps the earliest = highest-cosine/lowest-id)
            if (s > bestScore) { bestScore = s; best = i }
          }
          i += 1
        }
        used(best) = true
        picked += ((cs(best)._1, cs(best)._3, bestScore))
        var j = 0
        while (j < cs.length) {
          if (!used(j)) {
            val sj = sim(cs(j)._2, cs(best)._2)
            if (sj > maxSel(j)) maxSel(j) = sj
          }
          j += 1
        }
        step += 1
      }
      picked.toSeq
    }
    cands.groupBy("query_id")
      .agg(collect_list(struct(col("nn_id"), col("cv"), col("cosine"))).as("cands"))
      .select(col("query_id"),
        posexplode(sel(col("cands"), lit(k), lit(lambda))).as(Seq("pos", "pick")))
      .select(col("query_id"),
        (col("pos") + 1).as("mmr_rank"),
        col("pick._1").as("nn_id"),
        col("pick._2").as("cosine"),
        round(col("pick._3"), 4).as("mmr_score"))
  }

  /** IVF-style ANN: cluster the corpus into `nCells` KMeans cells once
    * (the "coarse quantizer"), assign each corpus vector to its cell, and
    * answer each query by exact-ranking only the `nProbe` cells nearest to
    * the query centroid. The classic inverted-file trade: one cheap
    * clustering pass at build time, then per-query work proportional to
    * (corpus / nCells) × nProbe instead of the full corpus. Centroids are
    * broadcast (tiny); the probe join is an equi-join on cell id. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L,
              centroids: Option[DataFrame] = None): DataFrame = {
    // `centroids`: callers that already hold a fitted (cell, centroid)
    // frame for THIS corpus pass it to skip the KMeans fit — the fit is
    // the expensive step, and several read paths over one corpus can
    // share a single quantizer (exactly how a production IVF serves).
    val cents = centroids.getOrElse(fitCentroids(corpus, nCells, vecCol, seed))
    ivfTopKFromAssigned(assignCells(corpus, cents, idCol, vecCol), cents,
      queries, k, nProbe, idCol, vecCol)
  }

  /** LSH-bucketed ANN: hash corpus + queries with random hyperplane
    * projections, take candidates from shared buckets (equi-join on
    * (hash-table idx, bucket)), then exact-rank candidates per query.
    * `numHashTables` trades recall for candidate volume. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              bucketLength: Double = 2.0, numHashTables: Int = 6,
              seed: Long = 42L): DataFrame = {
    // cosineUsable also guards the array_to_vector UDF, which NPEs on a
    // NULL array (the hard-crash path the null-fixture sweep caught)
    val c = corpus.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("arr"))
      .withColumn("v", array_to_vector(col("arr")))
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("arr"))
      .withColumn("v", array_to_vector(col("arr")))
    val lsh = new BucketedRandomProjectionLSH().setInputCol("v").setOutputCol("h")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(c)
    def buckets(df: DataFrame): DataFrame =
      model.transform(df).select(col("id"), col("arr"),
        posexplode(transform(col("h"),
          hv => element_at(vector_to_array(hv), 1).cast("long"))))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val cb = buckets(c).select(col("id").as("nn_id"), col("tbl"), col("bucket"))
    val qb = buckets(q).select(col("id").as("query_id"), col("tbl"), col("bucket"))
    // the bucket join and the dedup carry ids ONLY (two longs per row);
    // vectors re-attach after the distinct — with 1k-dim embeddings the
    // wide form shuffles ~8 KB/row through the dedup exchange for a dedup
    // that needs 16 bytes (same id-only-shuffle pattern as
    // Dedup.minhashPairs)
    val idPairs = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .where(col("nn_id") =!= col("query_id"))
      .select("query_id", "nn_id").distinct()
    val cands = idPairs
      .join(c.select(col("id").as("nn_id"), col("arr").as("cv")), Seq("nn_id"))
      .join(broadcast(q.select(col("id").as("query_id"), col("arr").as("qv"))),
        Seq("query_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)
    cands
      .select(col("query_id"), col("nn_id"),
        round(cosine(col("cv"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Exact radius (range) search: every corpus row with cosine >= `minCosine`
    * to each query vector (query itself excluded) — the "find everything
    * similar enough" primitive behind near-dup auditing and targeted
    * decontamination, where top-k's fixed cutoff is the wrong contract.
    * Exhaustive by definition (the result IS the full >= threshold set), so
    * the whole output is value-checkable in SQL. The query side broadcasts
    * (queries ≪ corpus); the corpus is scanned once through the codegen
    * cosine kernel with no shuffle at all — the per-query result is a
    * filter, not a rank, so not even a window exchange is needed. At scale
    * the same shape holds: output size is the true match set, and the scan
    * parallelizes over corpus partitions. Threshold applies to the
    * ROUNDED (6 dp) cosine — the same value the result emits: the result
    * set is exhaustive and hash-compared against an independent engine's
    * arithmetic, and thresholding the unrounded double would let a pair
    * whose cosine lands within an ulp of `minCosine` be included by one
    * engine and excluded by the other. Rounding first makes the inclusion
    * boundary a 6-dp grid point in both engines. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, minCosine: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    c.crossJoin(broadcast(q))
      .where(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("cv"), col("qv")), 6))
      .where(col("cosine") >= minCosine)
      .select(col("query_id"), col("nn_id"), col("cosine"))
  }

  /** k-NN graph over the corpus — every vector's top-k neighbors, the
    * primitive behind graph-based diversity sampling, SemDeDup variants,
    * and connected-component near-dup clustering at the embedding level.
    *
    * The query side here IS the corpus, so the broadcast-the-queries shape
    * of [[ivfTopKFromAssigned]] is exactly wrong at scale. Instead both
    * sides block on the IVF cell: assign each node once, compute each
    * node's `nProbe` nearest cells against the broadcast centroid table
    * (tiny), then EQUI-JOIN probes to members on the cell id — a shuffle
    * keyed by cell, never a corpus broadcast and never all-pairs.
    * Candidate volume is n·nProbe·(n/nCells); at real scale nCells grows
    * ~sqrt(n) (the standard IVF sizing), keeping per-node candidates flat.
    * A hot cell is a skew key — AQE's skew-join split handles moderate
    * cases, and shrinking cells (more of them) is the structural fix.
    * Same probe order and tie-breaks as the served IVF path, so the
    * sampled-node results are identical to [[ivfTopK]] under the same
    * centroids. */
  def knnGraph(corpus: DataFrame, k: Int, nCells: Int = 0, nProbe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding",
               seed: Long = 42L, centroids: Option[DataFrame] = None): DataFrame = {
    val dense = corpus.where(cosineUsable(col(vecCol)))
    // nCells defaults to AUTO (√n sizing via fitCentroids): the within-cell
    // candidate volume n·nProbe·(n/nCells) is exactly what the √n rule
    // keeps flat per node as the corpus grows.
    val cents = centroids.getOrElse(fitCentroids(dense, nCells, vecCol, seed))
    val assigned = assignCells(dense, cents, idCol, vecCol)
    // per-node probe cells computed MAP-SIDE against the collected centroid
    // table (same pattern as assignCells' argmin): a crossJoin + row_number
    // window here would hash-Exchange n·nCells rows carrying the full
    // embedding just to take a per-node min-nProbe — the wide-shuffle
    // anti-pattern assignCells' own doc warns against. Distances accumulate
    // left-to-right like the zip_with/aggregate form and ties break
    // (dist asc, cell asc), so the probe set is bit-identical to the
    // window formulation (pinned by the knnGraph-matches-ivfTopK spec).
    val centsArr = collectedCentroids(cents)
    val probeU = udf { (v: Seq[Double]) =>
      centsArr.map { case (cell, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { val x = v(i) - c(i); d += x * x; i += 1 }
        (d, cell)
      }.sortBy(identity).take(nProbe).map(_._2).toSeq
    }
    val probes = assigned.select(col("nn_id").as("query_id"), col("cv").as("qv"),
      explode(probeU(col("cv"))).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)
    assigned
      .join(probes, Seq("cell"))
      .where(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosine(col("cv"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The standard IVF cell-count sizing rule: nCells ≈ √n keeps the
    * expected per-cell membership (and so the within-cell candidate
    * volume of [[knnGraph]] / the per-probe re-rank cost) growing as √n
    * instead of n. Clamped to [16, 4096]: a floor so tiny corpora still
    * block, a ceiling so the broadcast centroid table and the map-side
    * argmin loop stay trivially small. */
  def autoCells(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Seeded KMeans centroids as a plain (cell, centroid) frame — the
    * persistable coarse quantizer behind the incremental IVF store.
    * Random init + few iterations, same rationale as
    * [[Dedup.semanticPairs]]: cells are a routing key, convergence
    * quality is secondary.
    *
    * `nCells <= 0` means AUTO: size by [[autoCells]] from the corpus
    * count (the count pass is paid anyway to bound the fit input).
    *
    * The fit input is BOUNDED: KMeans runs `maxIter` Lloyd scans, and
    * funneling a 100 TB corpus through them (let alone through a fixed
    * 8-partition coalesce) is the one shape that cannot survive scale.
    * Above `fitSampleCap` rows the fit reads a deterministic hash sample
    * — the keep-one-in-s filter evaluates at full scan parallelism, then
    * a repartition moves only the ~cap surviving rows — so the fit costs
    * O(cap) per iteration at any corpus size. Cells only route; a
    * sampled fit shifts centroids, not correctness (the recall contracts
    * in AnnSpec hold under either fit). Below the cap the exact original
    * single-coalesce plan runs, so fixture-scale results are
    * bit-identical with or without this guard. */
  def fitCentroids(corpus: DataFrame, nCells: Int = 16,
                   vecCol: String = "embedding", seed: Long = 42L,
                   maxIter: Int = 5, fitSampleCap: Long = 10000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    // non-finite rows are excluded from the FIT regardless of the
    // caller's filter: MLlib KMeans raises on any NaN/Infinity input
    // (and a NULL component cannot vectorize at all), and a poisoned
    // vector is unroutable/unservable anyway — it must never decide
    // where centroids sit. The lambda is never NULL, so the filter is
    // two-valued like cosineUsable's.
    val v0 = corpus.select(asDouble(col(vecCol)).as("arr"))
      .where(col("arr").isNotNull &&
        !exists(col("arr"), x => x.isNull || isnan(x) ||
          abs(x) === lit(Double.PositiveInfinity)))
    val n = v0.count()
    val k = if (nCells > 0) nCells
            else math.max(1, math.min(autoCells(n), math.min(n, Int.MaxValue.toLong).toInt))
    val fitInput =
      if (n <= fitSampleCap)
        // small corpus: the whole thing is the sample. coalesce(8): a
        // routing-key fit over a few thousand vectors spread across
        // defaultParallelism partitions pays ~62-rows-per-task scheduling
        // overhead every scan.
        v0.withColumn("mlv", array_to_vector(col("arr"))).coalesce(8)
      else {
        // deterministic seeded sample: keep rows whose vector hash lands
        // in one of s residue classes — no RNG, same rows every run. The
        // filter runs map-side at scan parallelism; only survivors move.
        val keepOneIn = math.max(2L, (n + fitSampleCap - 1) / fitSampleCap)
        v0.where(pmod(xxhash64(col("arr"), lit(seed)), lit(keepOneIn)) === 0)
          .repartition(8)
          .withColumn("mlv", array_to_vector(col("arr")))
      }
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random").setFeaturesCol("mlv").fit(fitInput)
    val spark = corpus.sparkSession
    import spark.implicits._
    km.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")
  }

  /** Collect a (cell, centroid) frame into the sorted array the map-side
    * argmin/probe kernels loop over — nCells rows, tiny by definition. */
  private def collectedCentroids(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids
      .select(col("cell"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** Assign each vector to its nearest centroid. GENUINELY map-side: the
    * centroid table is tiny by definition (nCells rows), so it collects
    * into the closure and the argmin is one tight JVM loop per row — zero
    * shuffles, no per-row join machinery. (A crossJoin + row_number window
    * would hash-Exchange the whole corpus WITH its vectors just to pick a
    * min — the wide-shuffle anti-pattern lshTopK's dedup already avoids.)
    * Tie-break: strict < keeps the lowest cell id, matching the probe
    * windows' (dist asc, cell asc) ordering; sums accumulate left-to-right
    * like the zip_with/aggregate formulation, so assignments are
    * bit-reproducible across both paths. */
  def assignCells(df: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCellsCollected(df, collectedCentroids(centroids), idCol, vecCol)

  /** Single validate+unbox pass: boxed Seq → primitive array, or null if
    * the input is null or carries a NULL/NaN/Inf component. The shared
    * front door of every vector-kernel UDF here — a primitive
    * `Seq[Double]` UDF signature raises NOT_NULL_ASSERT_VIOLATION during
    * deserialization when a vector carries a NULL component, and whether
    * such a row reaches the UDF at all would then depend on where the
    * optimizer placed the caller's usability filter relative to the
    * projection (quantUdf documents the same trap). */
  private def unboxFinite(boxed: Seq[java.lang.Double]): Array[Double] = {
    if (boxed == null) return null
    val a = new Array[Double](boxed.length)
    var i = 0
    val it = boxed.iterator
    while (it.hasNext) {
      val d = it.next()
      if (d == null || d.doubleValue.isNaN || d.doubleValue.isInfinite) return null
      a(i) = d.doubleValue; i += 1
    }
    a
  }

  /** [[assignCells]] over an already-collected centroid table — the build
    * paths collect the tiny frame ONCE and route everything (assignment,
    * the reserved-bucket id, the persisted centroid rows) through the
    * same array instead of re-evaluating the frame per consumer. */
  private def assignCellsCollected(df: DataFrame,
                                   cents: Array[(Int, Array[Double])],
                                   idCol: String, vecCol: String): DataFrame = {
    // BOXED element type via unboxFinite. A NULL/NaN/Inf component
    // assigns to a NULL cell instead: unroutable, same policy as the
    // fit filter.
    val argminUdf = udf { (boxed: Seq[java.lang.Double]) =>
      val v: Array[Double] = unboxFinite(boxed)
      if (v == null) null.asInstanceOf[java.lang.Integer]
      else {
        var best = -1; var bestD = Double.MaxValue
        cents.foreach { case (cell, c) =>
          var d = 0.0; var i = 0
          while (i < c.length) { val x = v(i) - c(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = cell }
        }
        java.lang.Integer.valueOf(best)
      }
    }
    df.select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", argminUdf(col("cv")))
  }

  /** The centroid table a persisted IVF store was built with — decoded
    * from the reserved routing bucket's `nn_id = -1 - cell` rows, read
    * through the store's committed manifest (so a racing rebuild can
    * never show a reader half-written centroids). */
  def readCentroids(spark: SparkSession, path: String): DataFrame = {
    requireStoreKind(spark, path, "ivf")
    val reserved = IO.storeBuckets(path) - 1
    IO.readStoreBuckets(spark, path, Set(reserved))
      .select((-col("nn_id") - 1).cast("int").as("cell"),
        col("cv").as("centroid"))
  }

  /** Corpus clustering report — the "what's in this embedding corpus"
    * structural summary (topic-ish cells): per KMeans cell, its size and
    * the mean cosine of members to their centroid (cell coherence).
    * Null-vector rows are excluded (they belong to no cell).
    *
    * Scale shape: centroids broadcast (`assignCells` evaluates the argmin
    * map-side); the per-cell aggregate partial-combines, so the only
    * exchange carries nCells rows. The coherence cosine reuses the codegen
    * [[graft.functions.CosineSim]] kernel. */
  def clusterReport(df: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    nCells: Int = 16,
                    precomputed: Option[DataFrame] = None): DataFrame = {
    // same sharing seam as [[ivfTopK]]: a caller holding this corpus's
    // fitted quantizer skips the redundant KMeans fit
    val centroids = precomputed.getOrElse(
      fitCentroids(df.where(cosineUsable(col(vecCol))), nCells, vecCol))
    val assigned = assignCells(df.where(cosineUsable(col(vecCol))), centroids,
      idCol, vecCol)
    assigned
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("coh", graft.functions.CosineSim.cosine_sim(
        col("cv"), col("centroid")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("coh")), 4).as("mean_cosine"))
  }

  /** The (query_id, qv, cell, cell_rk) probe set: each usable query's
    * `nProbe` nearest cells by centroid L2 distance (ties to the lower
    * cell id), ranked. Shared by the in-memory serve and [[route]], which
    * derives the probed-cell union for its manifest-pruned store read
    * from the same frame that drives the candidate join. */
  private def probeFrame(queries: DataFrame, centroids: DataFrame,
                         nProbe: Int, idCol: String, vecCol: String): DataFrame =
    queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", aggregate(
        zip_with(col("qv"), col("centroid"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (s, x) => s + x))
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").asc, col("cell").asc)))
      .where(col("cell_rk") <= nProbe)
      // cell_rk rides along: the probe curve derives every smaller probe
      // budget's candidates as its prefix (Knob.Probe); the serves' own
      // selects drop it
      .select("query_id", "qv", "cell", "cell_rk")

  /** The serve's total order: rounded cosine desc, then corpus id. */
  private val byCosine =
    Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)

  /** Rounded exact cosine of every servable row of an assigned (nn_id,
    * cv, cell) frame against the queries probing its cell, self-pairs
    * excluded, with the `carry` probe columns alongside. */
  private def probedCosines(assigned: DataFrame, probes: DataFrame,
                            carry: Seq[String] = Seq.empty): DataFrame =
    // cosineUsable on the serve side: a zero-norm vector CAN be assigned
    // to a cell (L2 argmin is well-defined) but can never be a cosine
    // neighbor — without the guard its NaN cosine ranks first under
    // Spark's NaN-is-greatest ordering. writeIvfStore drops such rows,
    // so this also keeps batch-assigned and store-served paths identical.
    assigned
      .where(cosineUsable(col("cv")))
      .join(broadcast(probes), Seq("cell"))
      .where(col("nn_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("nn_id"),
        round(cosine(col("cv"), col("qv")), 4).as("cosine")) ++ carry.map(col): _*)

  /** Exact cosine re-rank of an assigned candidate set against a probe
    * frame — the shared serve tail. */
  private def rankProbed(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame =
    probedCosines(assigned, probes)
      .withColumn("rank", row_number().over(byCosine)).where(col("rank") <= k)

  /** Top-k over an already-assigned (nn_id, cv, cell) frame: nProbe cells
    * per query via the given centroids, exact cosine re-rank. Shared by
    * [[ivfStoreTopK]] (assigned = the persisted store) and any in-memory
    * assignment (which is how AnnSpec and the ann_ivf_store contract prove
    * append-maintained and batch-built indexes serve identical results). */
  def ivfTopKFromAssigned(assigned: DataFrame, centroids: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int = 4,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankProbed(assigned, probeFrame(queries, centroids, nProbe, idCol, vecCol), k)

  /** Build a persisted IVF index as a MANIFEST-COMMITTED partitioned
    * store ([[IO.writePartitionedStore]] with the cell as the
    * trusted routing column) — the same commit/read machinery as every
    * other store here: readers resolve a committed manifest pointer, so
    * no reader can ever observe a build, append, or compaction
    * mid-write, crashes leave the previous version current, and every
    * committed version stays time-travel-readable until vacuum.
    *
    * The centroids ride IN the store, as rows of a reserved routing
    * bucket (id = nCells, one past the real cells) encoded as
    * `nn_id = -1 - cell, cv = centroid` — the same trick as
    * [[Bm25Store]]'s stats bucket, and for the same reason: the
    * quantizer and the postings it routes commit ATOMICALLY in one
    * manifest, and a time-travel read gets the exact (centroids, cells)
    * pair of that version.
    *
    * Null and zero-norm embeddings are dropped at write time: a null
    * vector assigns to a null cell (unroutable), and a zero vector's NaN
    * cosine would rank first at serve under Spark's NaN-is-greatest
    * ordering ([[cosineUsable]]). Filtering here keeps the store's row
    * count and its servable contents identical. */
  def writeIvfStore(corpus: DataFrame, path: String, nCells: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    seed: Long = 42L,
                    centroids: Option[DataFrame] = None): Unit = {
    val dense = corpus.where(cosineUsable(col(vecCol)))
    // a caller holding an already-fitted quantizer for this corpus passes
    // it in (the cells are a routing key — any consistent centroid set
    // works, and the store persists whichever it was built with); without
    // one, fit here (nCells <= 0 auto-sizes by √n — see fitCentroids)
    // collected ONCE: the reserved-bucket id, the row routing, and the
    // persisted centroid rows all derive from this array — a frame-backed
    // centroid source (e.g. readCentroids of another store) would
    // otherwise be scanned three times per build
    val cents = collectedCentroids(
      centroids.getOrElse(fitCentroids(dense, nCells, vecCol, seed)))
    // reserved bucket id = one past the highest real cell (auto-sizing
    // means the fitted cell count, not the nCells argument, is the truth)
    val reserved = cents.map(_._1).max + 1
    val data = assignCellsCollected(dense, cents, idCol, vecCol)
      .select(col("nn_id"), col("cv"), col("cell").as(IO.BucketCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centRows = cents.toSeq
      .map { case (cell, c) => (-1L - cell, c.toSeq) }
      .toDF("nn_id", "cv")
      .withColumn(IO.BucketCol, lit(reserved))
    // writePartitionedStore repartitions on the routing column before the
    // partitionBy write (the small-files guard) and commits postings +
    // centroids in one manifest version
    // the layout tag rides the SAME v1 commit as the data (IO writes it
    // beside _graft_buckets before the commit marker), so no crash can
    // leave a committed store whose readers reject it for a missing tag
    IO.writePartitionedStore(data.unionByName(centRows), path,
      keys = Seq("nn_id"), nBuckets = reserved + 1,
      layoutTag = Some("ivf"))
  }

  /** Incremental index maintenance, either layout: route a delta of new
    * vectors through the STORED quantizers ([[encodeRows]]) and append —
    * O(delta) data writes, no existing file read or rewritten, committed
    * through the store's optimistic manifest loop so a racing reader sees
    * the old version or the new one, never a torn middle. The trade, as
    * for every IVF deployment: the quantizers age as the distribution
    * drifts (IVF-PQ doubly: coarse cells and codebooks);
    * [[vectorStoreStaleness]] measures it, and [[refreshIvfStore]] or a
    * rebuild answers it. A path that is not a vector store fails loudly. */
  def appendVectorStore(delta: DataFrame, path: String,
                        idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    IO.appendPartitionedStore(spark, path,
      encodeRows(spark, path, readStoreKind(spark, path), delta, idCol, vecCol),
      keys = Seq("nn_id"))
  }

  /** Store rows for a batch of vectors, routed through the store's STORED
    * centroids and, for IVF-PQ, residual-encoded through its stored
    * codebooks — the one row encoder of [[appendVectorStore]] and
    * [[upsertVectorStore]]. Unusable vectors (null/zero/NaN/Inf) are
    * dropped: never persist unservable rows, same policy as the builds. */
  private def encodeRows(spark: SparkSession, path: String, kind: String,
                         delta: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val usable = delta.where(cosineUsable(col(vecCol)))
    kind match {
      case "ivf" =>
        assignCells(usable, readCentroids(spark, path), idCol, vecCol)
          .select(col("nn_id"), col("cv"), col("cell").as(IO.BucketCol))
      case "ivfpq" =>
        val (_, centArr, cb) = loadIvfPqQuantizers(spark, path)
        val codesU = pqCodesUdf(cb)
        val rU = residUdf(centArr)
        assignCellsCollected(usable, centArr, idCol, vecCol)
          .select(col("nn_id"), codesU(rU(col("cv"), col("cell"))).as("codes"),
            lit(null).cast("array<double>").as("cv"),
            col("cell").as(IO.BucketCol))
      case other => throw new IllegalArgumentException(
        s"$path has unknown store kind '$other'")
    }
  }

  /** The data rows of a persisted IVF store — (nn_id, cv, cell) through
    * the CURRENT committed manifest (superseded generations and the
    * reserved centroid bucket excluded). */
  def readIvfStore(spark: SparkSession, path: String): DataFrame = {
    requireStoreKind(spark, path, "ivf")
    val reserved = IO.storeBuckets(path) - 1
    IO.readStoreBuckets(spark, path, (0 until reserved).toSet)
      .withColumnRenamed(IO.BucketCol, "cell")
      .select("nn_id", "cv", "cell")
  }

  /** Serve top-k from the persisted IVF index: nProbe cells per query via
    * the stored centroids, store read PRUNED to the union of probed cells
    * ([[route]]), exact cosine re-rank of candidates. Same query plan as
    * [[ivfTopK]], but against an index that was built once and maintained
    * by appends.
    *
    * `allowedIds`: FILTERED vector search ("top-k among docs matching P").
    * The caller materializes the predicate as an id frame and candidates
    * semi-join it BEFORE the rank, so the result is the true top-k OF THE
    * ALLOWED SUBSET — not a post-filtered top-k that returns fewer than k
    * when the global top-k happens to be disallowed (the classic
    * filtered-ANN bug). Catalyst/AQE picks the join: a selective id set
    * broadcasts, a corpus-scale one shuffles on the id. */
  def ivfStoreTopK(spark: SparkSession, path: String,
                   queries: DataFrame, k: Int, nProbe: Int = 4,
                   allowedIds: Option[DataFrame] = None,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (probes, rows) = route(spark, path, queries, readCentroids(spark, path),
      nProbe, idCol, vecCol)
    rankProbed(restrictToAllowed(rows.select("nn_id", "cv", "cell"), allowedIds, idCol),
      probes, k)
  }

  /** The route step of every IVF and IVF-PQ serve: the probe frame
    * against `centroids`, PINNED (localCheckpoint), then the store rows of
    * the probed cells only, read through the committed manifest (an
    * unprobed cell's directory is never listed). Returns (probes, probed
    * rows with the bucket column named `cell`). Pinning before the
    * driver-side cell collect (≤ nCells ints) makes the pruned read and
    * the candidate join see the SAME probe set under nondeterministic
    * query lineage (sample/limit), so callers derive everything query-side
    * from it, never from `queries`. Checkpoint blocks are non-reliable: an
    * executor loss fails the serve instead of silently dropping results.
    * The checkpoint, the collect and the schema-merged read are the
    * serve's eager jobs, so they run under the `route` span; probe, ADC
    * and refine run in the caller's action. */
  private def route(spark: SparkSession, path: String, queries: DataFrame,
                    centroids: DataFrame, nProbe: Int,
                    idCol: String, vecCol: String): (DataFrame, DataFrame) =
    obs.span("route") {
      val probes = probeFrame(queries, centroids, nProbe, idCol, vecCol).localCheckpoint()
      val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSet
      (probes, IO.readStoreBuckets(spark, path, cells).withColumnRenamed(IO.BucketCol, "cell"))
    }

  /** Probe-curve candidates: every servable row of the probed union at
    * `maxProbe` with its rounded cosine AND the probe rank (`cell_rk`) of
    * its cell for that query. For any p ≤ maxProbe the rows with
    * `cell_rk <= p` are EXACTLY the candidates [[ivfStoreTopK]] at
    * nProbe = p ranks (probed candidate sets nest), so [[topKAt]] over
    * this frame reproduces that serve row for row and [[tuneProbe]]
    * measures its whole grid from one store read. */
  private[graft] def ivfStoreProbeCandidates(spark: SparkSession, path: String,
                                             queries: DataFrame, maxProbe: Int,
                                             idCol: String = "vec_id",
                                             vecCol: String = "embedding"): DataFrame = {
    val (probes, rows) = route(spark, path, queries, readCentroids(spark, path),
      maxProbe, idCol, vecCol)
    probedCosines(rows.select("nn_id", "cv", "cell"), probes, carry = Seq("cell_rk"))
  }

  /** Semi-join a candidate frame down to an allowed-id set (filtered
    * vector search's pre-rank restriction); identity when no filter. */
  private def restrictToAllowed(candidates: DataFrame,
                                allowedIds: Option[DataFrame],
                                idCol: String): DataFrame =
    allowedIds match {
      case None => candidates
      case Some(a) => candidates.join(
        a.select(col(idCol).cast("long").as("nn_id")).distinct(),
        Seq("nn_id"), "left_semi")
    }

  // ----------------------------------------------- measured operating points

  /** The recall knob an operating-point curve measures: the IVF store's
    * probe count ([[tuneProbe]]) or the IVF-PQ store's ADC shortlist width
    * at a fixed probe count ([[tuneRefine]]). Each curve persists WITH its
    * store as a plain-text sidecar: one tab-separated `key=value` line with
    * the `header` keys, then one `value<TAB>recall` line per grid point. */
  sealed abstract class Knob(val sidecar: String, val column: String,
                             private[llm] val header: Seq[String],
                             private[llm] val tuner: String) {
    /** The curve-candidate rows the serve at knob value `x` ranks. */
    private[llm] def prefix(x: Int, k: Int): Column
  }
  object Knob {
    case object Probe extends Knob("_graft_probe_curve", "n_probe",
        Seq("k", "version", "n_queries"), "tuneProbe") {
      private[llm] def prefix(x: Int, k: Int): Column = col("cell_rk") <= x
    }
    case object Refine extends Knob("_graft_refine_curve", "refine",
        Seq("k", "n_probe", "version", "n_queries"), "tuneRefine") {
      private[llm] def prefix(x: Int, k: Int): Column = col("crk") <= x.toLong * k
    }
  }

  /** A persisted operating-point curve: the k it was measured at, the
    * probe count a refine curve was measured at, the manifest version
    * measured, and its (knob value, recall@k) points. */
  final case class Curve(k: Int, nProbe: Option[Int], version: Int,
                         points: Seq[(Int, Double)])

  /** Top-k at knob value `x` from a curve-candidates frame
    * ([[ivfStoreProbeCandidates]] for Probe, [[ivfPqRefineCandidates]]
    * for Refine): the knob's prefix ranked by the serve's total order.
    * Its (query_id, nn_id, cosine, rank) rows equal the serve at `x` row
    * for row; the candidate columns ride along. */
  private[graft] def topKAt(cands: DataFrame, knob: Knob, k: Int, x: Int): DataFrame =
    cands.where(knob.prefix(x, k))
      .withColumn("rank", row_number().over(byCosine)).where(col("rank") <= k)

  /** Measure a store's recall curve and PERSIST it as the knob's sidecar.
    * The grid is `values` in [1, theorem) (default: powers of two) plus
    * the `theorem` point, where the knob cannot bind and the serve is
    * exact — recall 1.0 by theorem, so the tune needs no external oracle.
    * `candidates` maps the pinned queries to the one-pass curve candidates
    * at that point; recall at x is the fraction of its top-k rows that
    * survive x's prefix and rank cut ([[topKAt]]), monotone in x because
    * the prefixes nest under one total order. The store version is read
    * before measuring and re-checked after: the nesting holds only within
    * one version, so a commit landing mid-tune fails loudly instead of
    * persisting a curve that mixes versions. */
  private def measureCurve(spark: SparkSession, path: String, knob: Knob,
                           queries: DataFrame, k: Int, nProbe: Option[Int],
                           values: Seq[Int], idCol: String, vecCol: String)
                          (theorem: => Int)
                          (candidates: DataFrame => DataFrame): DataFrame = {
    val v0 = IO.storeVersions(spark, path).last
    val top = theorem
    val grid = (if (values.nonEmpty) values.filter(x => x >= 1 && x < top)
                else Iterator.iterate(1)(_ * 2).takeWhile(_ < top).toSeq)
      .distinct.sorted :+ top
    // pin the query frame once: every grid point must serve the SAME query
    // set (nondeterministic caller lineage would otherwise tune different
    // points on different queries)
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol), col(vecCol)).localCheckpoint()
    val curve =
      try {
        val nQ = q.count()
        val cands = candidates(q).localCheckpoint()
        try {
          val flagged = cands.withColumn("rank_full", row_number().over(byCosine))
            .withColumn("is_full", col("rank_full") <= k)
          val nFull = flagged.where(col("is_full")).count()
          val pts = grid.map { x =>
            val recall =
              if (x == top) 1.0 // by theorem; spares the redundant pass
              else topKAt(flagged, knob, k, x).where(col("is_full")).count()
                .toDouble / math.max(nFull, 1L)
            (x, BigDecimal(recall).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          val vEnd = IO.storeVersions(spark, path).last
          require(vEnd == v0,
            s"$path advanced v$v0 -> v$vEnd mid-tune — the measured points " +
              "span store versions; re-run the tune against the quiet store")
          val stamp = Seq[Long](k) ++ nProbe.map(_.toLong) ++ Seq[Long](v0, nQ)
          val (fs, p) = sidecar(spark, path, knob.sidecar)
          IO.writeSmallFile(fs, p,
            knob.header.zip(stamp).map { case (key, v) => s"$key=$v" }.mkString("\t") +
              "\n" + pts.map { case (x, r) => s"$x\t$r" }.mkString("\n"))
          pts
        } finally Shim.releaseCheckpoint(cands)
      } finally Shim.releaseCheckpoint(q)
    import spark.implicits._
    curve.toDF(knob.column, "recall")
  }

  /** Measure the IVF store's recall-vs-nProbe curve on `queries` and
    * PERSIST it ([[measureCurve]]). The theorem point is the FULL-PROBE
    * serve (nProbe = nCells): its candidates are the entire servable
    * corpus, so it equals the brute top-k. Returns the measured
    * (n_probe, recall) frame; an OFFLINE maintenance op.
    *
    * IVF-only BY THEOREM: full-probe ≡ exact holds only when candidates
    * rank by TRUE cosine. The IVF-PQ store ranks by ADC distance, so its
    * full-probe serve is NOT the brute result; the IVFPQ + flat refine
    * topology tunes its probe budget here, on the flat tier's
    * full-precision store — the standard deployment answer. */
  def tuneProbe(spark: SparkSession, path: String,
                queries: DataFrame, k: Int = 10,
                probes: Seq[Int] = Seq.empty,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireStoreKind(spark, path, "ivf")
    val nCells = IO.storeBuckets(path) - 1
    measureCurve(spark, path, Knob.Probe, queries, k, None, probes, idCol, vecCol)(nCells)(
      q => ivfStoreProbeCandidates(spark, path, q, nCells, idCol, vecCol))
  }

  /** A store's plain-text sidecar file and the filesystem it lives on. */
  private def sidecar(spark: SparkSession, path: String, name: String): (FileSystem, Path) = {
    val p = new Path(path, name)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The store's persisted `knob` curve. Fails loudly when the store was
    * never tuned — a recall-target serve against an untuned store has no
    * measured basis to resolve on — and when the sidecar does not parse
    * as a `knob` curve. */
  def readCurve(spark: SparkSession, path: String, knob: Knob): Curve = {
    val (fs, p) = sidecar(spark, path, knob.sidecar)
    require(fs.exists(p),
      s"$path has no ${knob.sidecar} — run ${knob.tuner} before serving at a recall target")
    val lines = IO.readSmallFile(fs, p).linesIterator.toList
    try {
      val hdr = lines.head.split('\t').map(_.split('='))
      require(hdr.forall(_.length == 2) && hdr.map(_.head).toSeq == knob.header,
        s"header keys are not ${knob.header.mkString(", ")}")
      val h = hdr.map(kv => kv(0) -> kv(1)).toMap
      val pts = lines.tail.filter(_.nonEmpty).map { l =>
        val Array(x, r) = l.split('\t'); (x.toInt, r.toDouble)
      }
      Curve(h("k").toInt, h.get("n_probe").map(_.toInt), h("version").toInt, pts)
    } catch {
      case e @ (_: IllegalArgumentException | _: MatchError | _: NoSuchElementException) =>
        throw new IllegalArgumentException(
          s"$p does not parse as a $knob curve: ${e.getMessage}", e)
    }
  }

  /** True iff the store has committed versions SINCE the curve was
    * measured — appends/deletes/refreshes that may have moved the
    * recall trade, so the operating point deserves a re-tune (the same
    * drift story as [[vectorStoreStaleness]], for the tuning artifact). */
  def curveStale(spark: SparkSession, path: String, knob: Knob): Boolean =
    readCurve(spark, path, knob).version != IO.storeVersions(spark, path).last

  /** A recall-target serve against a stale curve could silently serve
    * below the stated target, so it fails loudly instead — unless the
    * caller passed `allowStale`, the explicit opt-out for a deployment
    * that accepts measurement drift between re-tunes. */
  private[graft] def requireCurrent(spark: SparkSession, path: String, knob: Knob): Unit =
    require(!curveStale(spark, path, knob),
      s"$path has committed versions since its ${knob.sidecar} was measured — a " +
        "recall-target serve against the stale curve could silently miss the target; " +
        s"re-run ${knob.tuner} (or pass allowStale = true to accept the drift)")

  /** The smallest MEASURED knob value whose recall meets `minRecall`, else
    * the largest (the theorem point, recall 1.0) — total for any target
    * ≤ 1.0. `forK` / `forProbe` (when ≥ 0) require the curve to have been
    * tuned at THAT k / probe count: recall@k transfers across neither, and
    * resolving across a mismatch would silently serve below the target. */
  def resolveCurve(spark: SparkSession, path: String, knob: Knob,
                   minRecall: Double, forK: Int = -1, forProbe: Int = -1): Int = {
    require(minRecall > 0.0 && minRecall <= 1.0,
      s"minRecall must be in (0, 1]; got $minRecall")
    val c = readCurve(spark, path, knob)
    require(forK < 0 || c.k == forK,
      s"$path's ${knob.sidecar} was tuned at k=${c.k}, not k=$forK — recall@k " +
        s"does not transfer across k; re-run ${knob.tuner} at the serving k")
    require(forProbe < 0 || c.nProbe.forall(_ == forProbe),
      s"$path's ${knob.sidecar} was tuned at nProbe=${c.nProbe.getOrElse(-1)}, " +
        s"not nProbe=$forProbe — re-run ${knob.tuner} at the serving probe budget")
    c.points.sortBy(_._1).collectFirst { case (x, r) if r >= minRecall => x }
      .getOrElse(c.points.map(_._1).max)
  }

  /** [[ivfStoreTopK]] at a RECALL TARGET instead of a probe count: the
    * probe budget resolves against the store's persisted measured curve
    * at the serving k — the closed loop between the tuning report and the
    * serve default (a deployment states "recall ≥ 0.9", not "4 probes").
    * The curve must be current ([[requireCurrent]]). */
  def ivfStoreTopKAtRecall(spark: SparkSession, path: String, queries: DataFrame,
                           k: Int, minRecall: Double,
                           allowedIds: Option[DataFrame] = None,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           allowStale: Boolean = false): DataFrame = {
    if (!allowStale) requireCurrent(spark, path, Knob.Probe)
    ivfStoreTopK(spark, path, queries, k,
      nProbe = resolveCurve(spark, path, Knob.Probe, minRecall, forK = k),
      allowedIds = allowedIds, idCol = idCol, vecCol = vecCol)
  }

  /** Compact a vector store's fragmented cells — the OPTIMIZE step every
    * append-maintained store needs: each [[appendVectorStore]] delta
    * adds a generation to every cell it touches, and a year of daily
    * deltas makes every probed read list + open many small files per
    * cell.
    * Serves BOTH layouts (the store-kind marker resolves which buckets
    * are reserved quantizers and must never count as fragmented data
    * cells).
    * Delegates to [[IO.compactPartitionedStore]]: cells spread
    * over more than `maxGensPerCell` generations are rewritten
    * (content byte-identical, so served results cannot change) and the
    * collapse commits through the SAME optimistic-concurrency manifest
    * loop as every merge — a reader racing the compaction resolves the
    * pre- or post-compaction manifest, never a half-rewritten cell, and
    * a concurrent append serializes through the version claim. Cost is
    * O(fragmented cells' data), never O(store). Returns
    * (cell, files_before, files_after) for the rewritten cells. */
  def compactIvfStore(spark: SparkSession, path: String,
                      maxGensPerCell: Int = 1): DataFrame = {
    val frag = fragmentedCells(spark, path, maxGensPerCell)
    import spark.implicits._
    if (frag.isEmpty)
      return Seq.empty[(Int, Int, Int)].toDF("cell", "files_before", "files_after")
    // per-cell parquet-file listings only bracket an ACTUAL rewrite —
    // they are O(buckets × gens) filesystem round-trips, charged to the
    // OPTIMIZE action that needs the before/after report, never to a
    // no-op call (which stays manifest-only, like ivfStoreFragmented)
    // the KIND-AWARE fragmented set is the one compacted (IO's generic
    // criterion would scan ALL buckets incl. the reserved quantizers, so
    // a multi-generation quantizer bucket — no current op creates one —
    // could be silently rewritten while this report omitted it)
    val before = storeCellFiles(spark, path)
    IO.compactStoreBuckets(spark, path, frag)
    val after = storeCellFiles(spark, path)
    frag.toSeq.sorted
      .map(c => (c, before.getOrElse(c, 0), after.getOrElse(c, 0)))
      .toDF("cell", "files_before", "files_after")
  }

  /** True iff some cell of the store is spread over more than `maxGens`
    * generations — i.e. [[compactIvfStore]] would have work to do. A
    * manifest-only check: no data directory is ever listed. */
  def ivfStoreFragmented(spark: SparkSession, path: String,
                         maxGens: Int = 1): Boolean =
    fragmentedCells(spark, path, maxGens).nonEmpty

  /** The data cells of a store, from an already-read kind + bucket count
    * (the maintenance entry points read both once and thread them). */
  private def dataCellsOf(kind: String, nBuckets: Int, path: String): Set[Int] = {
    val reserved = kind match {
      case "ivf"   => Set(nBuckets - 1)
      case "ivfpq" => Set(nBuckets - 2, nBuckets - 1)
      case other => throw new IllegalArgumentException(
        s"$path has unknown store kind '$other'")
    }
    (0 until nBuckets).filterNot(reserved).toSet
  }

  /** LOCATE closure for the routed delete/upsert: the ids' CURRENT
    * (nn_id, cell) rows via a column-pruned projection scan of the data
    * cells joined to the broadcast id set (PlanAuditSpec pins the scan
    * schema carries nn_id only). A closure because the OCC retry loop
    * must re-locate against the new current manifest after a lost race —
    * see [[IO.routedRewrite]]. */
  private def locateIds(spark: SparkSession, path: String,
                        dataCells: Set[Int], ids: DataFrame,
                        idCol: String): () => DataFrame = () =>
    IO.readStoreBuckets(spark, path, dataCells)
      .select(col("nn_id"), col(IO.BucketCol))
      .join(broadcast(ids.select(col(idCol).cast("long").as("nn_id")).distinct()),
        Seq("nn_id"))

  /** DELETE vectors from a persisted vector store by id — the curation
    * step every serving index needs once dedup / decontamination /
    * takedown passes flag rows (the training-data right-to-be-forgotten
    * path), kind-agnostic across the IVF and IVF-PQ layouts.
    *
    * The store routes by CELL (a trusted routing column), not by key
    * hash, so the generic [[IO.deleteFromPartitionedStore]]
    * would prune the WRONG buckets here. Instead the delete keys resolve
    * to their cells first ([[locateIds]]) and then ONLY the touched cells
    * are anti-joined and rewritten through the same optimistic manifest
    * loop as every merge ([[IO.routedRewrite]]): O(id-column scan +
    * touched cells' data), never a full-store rewrite; pre-delete
    * versions stay time-travel-readable until vacuum; an emptied cell
    * drops out of the manifest (and the probed serve handles its absence
    * as an empty read). The broadcast bounds the op to takedown-scale
    * delete sets — deleting a corpus-scale fraction is a REBUILD, and the
    * staleness report is what tells you that moment arrived. Quantizer
    * buckets are never touched: routing stays valid for every surviving
    * and future row. */
  def deleteFromVectorStore(spark: SparkSession, path: String,
                            ids: DataFrame, idCol: String = "vec_id"): Unit = {
    val kind = readStoreKind(spark, path) // validates the marker
    val dataCells = dataCellsOf(kind, IO.storeBuckets(path), path)
    IO.routedRewrite(spark, path, locateIds(spark, path, dataCells, ids, idCol),
      None, keys = Seq("nn_id"))
  }

  /** The drift frame of [[vectorStoreStaleness]]: per-cell (n, p50 dist)
    * aggregates of the build-version rows vs the current rows, joined.
    * Inputs carry exactly (cell, dist). The join
    * is FULL outer: appends add cells the build never had (n_build = 0,
    * NULL build quantile, drifted = true — a cell the quantizer fit
    * never saw has no baseline to be "close" to), and
    * [[deleteFromVectorStore]] can shrink or EMPTY a cell the build did
    * have (n_now = 0 row kept, so the accounting never silently loses a
    * build cell). `appended_frac` measures GROWTH — clamped at 0 for a
    * shrunk cell (deletes surface in the n columns, not as negative
    * growth) and NULL for an emptied one. `drift_ratio` is NULL whenever
    * there is no meaningful baseline SCALE to divide by — a missing
    * build median (append-created cell), a missing current median
    * (emptied cell), or a ZERO build median (a singleton/duplicate cell
    * whose members sit exactly on the centroid: any movement is
    * infinite in relative terms, so the report exposes the raw p50
    * columns and declines to manufacture a magnitude). Never a garbage
    * quotient from substituting an epsilon for a missing or zero
    * value. */
  private def stalenessReport(build: DataFrame, now: DataFrame,
                              maxDriftRatio: Double): DataFrame = {
    require(maxDriftRatio > 0.0)
    def perCell(df: DataFrame, nCol: String, pCol: String): DataFrame =
      df.groupBy("cell").agg(
        count(lit(1)).as(nCol),
        percentile_approx(col("dist"), lit(0.5), lit(10000)).as(pCol))
    perCell(now, "n_now", "p50_now")
      .join(perCell(build, "n_build", "p50_build"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        when(coalesce(col("n_now"), lit(0L)) > 0,
          round(greatest(col("n_now") - coalesce(col("n_build"), lit(0L)), lit(0L))
            / col("n_now").cast("double"), 6)).as("appended_frac"),
        round(col("p50_build"), 6).as("p50_dist_build"),
        round(col("p50_now"), 6).as("p50_dist_now"),
        when(col("p50_build") > 0 && col("p50_now").isNotNull,
          round(col("p50_now") / col("p50_build"), 6))
          .as("drift_ratio"))
      // drifted: a measured ratio over the threshold, or an append-created
      // cell with live members (no baseline to be close to). An emptied or
      // untouched-empty cell is not drifted — nothing serves from it.
      .withColumn("drifted",
        coalesce(col("drift_ratio") > maxDriftRatio, lit(false)) ||
          (col("n_build") === 0 && col("n_now") > 0))
  }

  /** UPSERT vectors by id — the RE-EMBED maintenance op (a new encoder
    * version re-embeds documents; their index rows must be REPLACED, not
    * duplicated): existing ids are removed from whatever cells hold them
    * and the new vectors land wherever the stored quantizers route them
    * — a re-embedded vector often moves CELLS, which is exactly why this
    * cannot be an in-place per-cell update. Kind-agnostic: the IVF
    * layout persists (id, vector, cell), the IVF-PQ layout re-encodes
    * the residual codes through the stored codebooks.
    *
    * ONE atomic manifest commit ([[IO.routedRewrite]] with new rows):
    * a racing reader resolves the pre- or post-upsert version, never a
    * deleted-but-not-reinserted middle. Cost: the id-locate column scan
    * + O((old ∪ new touched cells)' data) rewrite. Unusable delta
    * vectors (null/zero/NaN/Inf) REMOVE the id without reinserting —
    * a re-embed that produced garbage must not serve, same policy as
    * the write paths. Quantizers are never refit: the staleness report
    * is what says when accumulated re-embeds warrant a rebuild. */
  def upsertVectorStore(delta: DataFrame, path: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    val kind = readStoreKind(spark, path)
    val dataCells = dataCellsOf(kind, IO.storeBuckets(path), path)
    IO.routedRewrite(spark, path, locateIds(spark, path, dataCells, delta, idCol),
      Some(encodeRows(spark, path, kind, delta, idCol, vecCol)), keys = Seq("nn_id"))
  }

  /** Sidecar recording the manifest version staleness reports baseline
    * against. ABSENT on a freshly built store (baseline = v1, the build);
    * written by [[refreshIvfStore]] after a quantizer refit — the refit
    * version becomes the new "build" the drift accounting measures from
    * (the old v1 baseline would compare current members against the NEW
    * centroids and misread a just-refreshed store as drifted or fresh at
    * random). */
  private val StalenessBaseFile = "_graft_staleness_base"

  /** The BUILD version a staleness report baselines against — v1, or the
    * last refresh's recorded version. Fails loudly when vacuum trimmed
    * the baseline away: `storeVersions.head` would then silently equal
    * the CURRENT version and any store, however appended and drifted,
    * would report itself fresh (build == now). Same fail-loudly rule as
    * the store-kind marker: a maintenance signal that can silently read
    * healthy is worse than none. */
  private[llm] def stalenessBaseline(spark: SparkSession, path: String): Int = {
    val vs = IO.storeVersions(spark, path)
    val (fs, p) = sidecar(spark, path, StalenessBaseFile)
    val base = if (!fs.exists(p)) 1 else IO.readSmallFile(fs, p).trim.toInt
    require(vs.contains(base),
      s"$path no longer retains its staleness baseline v$base (retained: " +
        s"${vs.mkString(",")}) — vacuum removed it, and a report against a " +
        "later baseline would falsely read fresh")
    base
  }

  /** Staleness report for an append-maintained vector store, either
    * layout — the queryable form of the trade [[appendVectorStore]]
    * documents ("centroids age as the distribution drifts; refresh =
    * rebuild"). Per data cell, comparing the store's BUILD version (the
    * corpus its quantizer was actually fit on, [[stalenessBaseline]];
    * time-travel-readable until vacuum) against the CURRENT version:
    *
    *  - `n_build`, `n_now`, `appended_frac` — how much of the cell the
    *    quantizer fit never saw;
    *  - `p50_dist_build`, `p50_dist_now` — median member L2 distance to
    *    the routing centroid then and now (approx percentile, 1e4
    *    accuracy). The build median is the cell's own baseline, so the
    *    report needs no distributional assumptions;
    *  - `drift_ratio` = p50_now / p50_build and `drifted` per
    *    `maxDriftRatio` — a ratio ≫ 1 means appended vectors sit far
    *    from the centroid that routes them: probes start missing true
    *    neighbors, and the documented refresh (rebuild) is due.
    *
    * The IVF-PQ layout keeps no corpus float, so its member distance is
    * the decoded residual's norm √Σ_j ‖codeword_{j,c_j}‖² (the ADC sum of
    * a zero-vector LUT), within the PQ error the serve itself runs at. It
    * SATURATES at the codebook envelope, so there the ratio is a LOWER
    * bound on true drift; the exact report runs on the flat tier's store.
    *
    * Cost: O(store) — one pass per side into a partial-combining
    * per-cell aggregate (the exchange carries nCells rows); an OFFLINE
    * maintenance report, never on the serve path, same cost class as
    * [[compactIvfStore]]. */
  def vectorStoreStaleness(spark: SparkSession, path: String,
                           maxDriftRatio: Double = 2.0): DataFrame = {
    val kind = readStoreKind(spark, path)
    val dataCells = dataCellsOf(kind, IO.storeBuckets(path), path)
    val v1 = stalenessBaseline(spark, path)
    val dist: DataFrame => DataFrame = kind match {
      case "ivf" =>
        val cents = broadcast(readCentroids(spark, path))
        _.join(cents, Seq("cell")).select(col("cell"), sqrt(aggregate(
          zip_with(col("cv"), col("centroid"), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (s, x) => s + x)).as("dist"))
      case _ => // "ivfpq": dataCellsOf rejected every other kind
        val (_, _, cb) = loadIvfPqQuantizers(spark, path)
        val lut0: Seq[Seq[Double]] = cb.toSeq.map(_.toSeq.map(_.map(x => x * x).sum))
        _.select(col("cell"), sqrt(pqAdc(col("codes"), typedLit(lut0))).as("dist"))
    }
    // data cells are 0 until their count; the reserved buckets sit above
    def withDist(df: DataFrame): DataFrame =
      dist(df.withColumnRenamed(IO.BucketCol, "cell").where(col("cell") < dataCells.size))
    stalenessReport(
      withDist(IO.readPartitionedStoreAtTagged(spark, path, v1)),
      withDist(IO.readStoreBuckets(spark, path, dataCells)),
      maxDriftRatio)
  }

  /** REFRESH an IVF store whose quantizer has aged — the op the
    * [[vectorStoreStaleness]] report exists to trigger, closing the
    * "centroids age; refresh = rebuild" loop WITHOUT a from-scratch
    * rebuild of the store's commit history: re-fit the coarse centroids
    * on the CURRENT corpus (same cell count — the bucket layout is
    * fixed at write time) and re-route every row, committed as ONE
    * atomic manifest version through the same optimistic loop as every
    * merge. A racing reader resolves the pre- or post-refresh version,
    * never a half-re-routed middle; pre-refresh versions stay
    * time-travel-readable until vacuum.
    *
    * GATED on the measured report: runs only when more than
    * `maxDriftedCells` populated cells trip the `maxDriftRatio` drift
    * flag (or `force`) — a refresh is an O(store) rewrite, and
    * re-fitting on every append would burn the whole point of O(delta)
    * maintenance. After the commit the staleness BASELINE advances to
    * the refresh version (sidecar; a crash between commit and sidecar
    * write leaves the old baseline — the conservative direction: the
    * report can only over-report drift, never read falsely fresh), so
    * the next report measures from the corpus this quantizer was
    * actually fit on. The persisted probe curve, if any, is left in
    * place and reads as stale ([[curveStale]]) — re-tune after a
    * refresh. Returns true iff a refresh committed. */
  def refreshIvfStore(spark: SparkSession, path: String,
                      maxDriftRatio: Double = 2.0, maxDriftedCells: Long = 0L,
                      force: Boolean = false, seed: Long = 42L): Boolean = {
    requireStoreKind(spark, path, "ivf")
    val drifted = vectorStoreStaleness(spark, path, maxDriftRatio)
      .where(col("drifted") && col("n_now") > 0).count()
    if (!force && drifted <= maxDriftedCells) return false
    val nBuckets = IO.storeBuckets(path)
    val reserved = nBuckets - 1
    import spark.implicits._
    // re-planned per optimistic attempt (rare: only under a racing
    // writer): the refit is a function of the base it commits against.
    // It fits on the data cells alone, partition-pruned out of the base,
    // so the reserved bucket's rows never reach the fit
    def rewrite(base: DataFrame): DataFrame = {
      val rows = base.where(col(IO.BucketCol) < reserved).select("nn_id", "cv")
      val cents = collectedCentroids(
        fitCentroids(rows, nCells = reserved, vecCol = "cv", seed = seed))
      val data = assignCellsCollected(rows, cents, "nn_id", "cv")
        .select(col("nn_id"), col("cv"), col("cell").as(IO.BucketCol))
      val centRows = cents.toSeq
        .map { case (cell, c) => (-1L - cell, c.toSeq) }
        .toDF("nn_id", "cv")
        .withColumn(IO.BucketCol, lit(reserved))
      data.unionByName(centRows)
    }
    // the baseline is the version THIS rewrite committed — returned from
    // the OCC loop, never re-read from storeVersions.last, which a
    // racing writer's immediately-following commit could have advanced
    // past ours (baselining on that commit would under-report ITS drift)
    val committed = IO.commitRewrite(spark, path,
      () => ((0 until nBuckets).toSet, rewrite))
      .getOrElse(throw new IllegalStateException(
        s"refresh rewrite of $path committed no version"))
    val (fs, p) = sidecar(spark, path, StalenessBaseFile)
    IO.writeSmallFile(fs, p, committed.toString)
    true
  }

  /** Per-cell parquet-file counts of the CURRENT manifest (all
    * generations a cell's entry references), via Hadoop FileSystem so the
    * accounting is storage-agnostic like the read path itself. */
  private def storeCellFiles(spark: SparkSession,
                             path: String): Map[Int, Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = IO.currentManifestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no committed manifest — not an IVF store"))
    IO.readManifest(fs, root, v)
      .groupBy(_._1).map { case (b, pairs) =>
        b -> pairs.map { case (_, g) =>
          val d = new Path(root, s"${IO.GenCol}=$g/${IO.BucketCol}=$b")
          fs.listStatus(d).count(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet"))
        }.sum
      }
  }

  /** Fragmented cells of the current manifest — a cell is fragmented
    * when its manifest entry spans more than `maxGens` generations; the
    * reserved quantizer bucket(s) are excluded (appends never touch
    * them), resolved per layout through the store-kind marker so the
    * check serves BOTH the IVF and IVF-PQ layouts. MANIFEST-ONLY:
    * derived from the committed bucket→generation map, so the check
    * never lists a data directory (file counts are [[storeCellFiles]]'
    * separate, rewrite-bracketing concern). */
  private def fragmentedCells(spark: SparkSession,
                              path: String,
                              maxGens: Int): Set[Int] = {
    val reserved = reservedStoreBuckets(spark, path)
    IO.storeBucketGenerations(spark, path).collect {
      case (b, n) if n > maxGens && !reserved(b) => b
    }.toSet
  }

  /** One-pass int8 scalar quantization of a vector: symmetric per-vector
    * scale = max|x|, code_i = round-half-away(x_i / scale × 127) ∈
    * [-127, 127], plus the QA signals a storage migration wants — max
    * absolute reconstruction error and cosine drift of the dequantized
    * vector against the original. Rounding is explicitly half-away-from-zero
    * (SQL ROUND semantics, NOT `math.round`, whose floor(x+0.5) disagrees at
    * negative .5 boundaries — reachable here whenever x is exactly
    * -scale/2^k). A per-row loop, so a UDF (see repUdf/shingleUdf): zero
    * shuffles, scan-speed, 4× smaller at rest than float32. */
  /** (raw scale, zero-guarded scale, int8 codes) — the shared quantizer
    * core; QA stats live in [[quantUdf]] only so the dequant path does not
    * pay for discarded norms/error passes. */
  private def quantCodes(v: Seq[Double]): (Double, Double, Seq[Int]) = {
    var scale = 0.0
    v.foreach { x => val a = math.abs(x); if (a > scale) scale = a }
    val s = if (scale == 0.0) 1.0 else scale
    def rnd(y: Double): Double =
      if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
    (scale, s, v.map(x => rnd(x / s * 127.0).toInt))
  }

  private val quantUdf = udf { (boxed: Seq[java.lang.Double]) =>
    // boxed input: a primitive Seq[Double] signature makes Spark raise
    // NOT_NULL_ASSERT_VIOLATION before the body ever runs when a vector
    // carries a NULL component. NULL- and NaN-component vectors are
    // UNQUANTIZABLE — int8 codes for NaN are garbage (and the oracle's
    // CAST(NaN AS INT) is an outright error) — so both quantize to the
    // same all-NULL row a NULL vector gets (mirrored in the oracle).
    if (boxed == null ||
        boxed.exists(d => d == null || d.doubleValue.isNaN || d.doubleValue.isInfinite)) null
    else {
      val v: Seq[Double] = boxed.map(_.doubleValue)
      val (scale, s, q) = quantCodes(v)
      var dotVD = 0.0; var nv = 0.0; var nd = 0.0; var maxErr = 0.0
      var i = 0
      while (i < v.length) {
        val d = q(i) * s / 127.0
        val e = math.abs(v(i) - d); if (e > maxErr) maxErr = e
        dotVD += v(i) * d; nv += v(i) * v(i); nd += d * d
        i += 1
      }
      val cos = if (nv == 0.0 || nd == 0.0) 1.0
        else dotVD / (math.sqrt(nv) * math.sqrt(nd))
      (scale, q.mkString(","), maxErr, cos)
    }
  }

  // ------------------------------------------------------- product quantization

  /** Finite-vector guard: non-null with no NULL/NaN/±Inf component — the
    * residual-space relaxation of [[cosineUsable]]: a ZERO vector has no
    * cosine direction, but a zero RESIDUAL is a legitimate (indeed the
    * most frequent) value for a quantizer to learn — a member sitting
    * exactly on its centroid. Two-valued for the same reason as
    * cosineUsable's lambda. */
  private[graft] def finiteVec(vecCol: Column): Column =
    vecCol.isNotNull && !exists(vecCol, x => x.isNull || isnan(x) ||
      abs(x.cast("double")) === lit(Double.PositiveInfinity))

  /** Product-quantization codebooks: the vector splits into `m` contiguous
    * subspaces and each subspace gets `ksub` centroids, so a corpus vector
    * stores as m small codes (here m=8 bytes vs 64 float32s = 32× smaller
    * at rest — the compression tier below int8's 4×).
    *
    * The fit is a hand-rolled distributed Lloyd loop rather than m
    * separate KMeans fits, because the scale shape matters: ALL m
    * subspaces update from ONE scan of the corpus per iteration (assign
    * codes map-side against broadcast codebooks, posexplode dims, one
    * partial-combined groupBy of m·ksub·dsub cells), where m library fits
    * would scan a 100 TB corpus m times per iteration. Init is
    * deterministic: the `ksub` corpus rows with the smallest
    * xxhash64(id, seed) (a global `limit` — TakeOrdered, no full sort)
    * seed every subspace. Empty cells keep their previous centroid.
    *
    * Returns (subspace, code, centroid) — m × ksub rows, tiny by
    * definition, same persistable shape as [[fitCentroids]]. */
  def fitPqCodebooks(corpus: DataFrame, m: Int = 8, ksub: Int = 32,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     seed: Long = 42L, maxIter: Int = 5,
                     requireNonZero: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // cached across the Lloyd iterations: every iteration re-scans this
    // frame, and without the persist each scan replays the source read +
    // cast lineage maxIter times.
    // requireNonZero = true is the RAW-vector path (a zero vector can
    // never be served in cosine space, so it must not shape codewords);
    // the residual path passes false — excluding zero residuals would
    // bias every codebook away from the exact value the densest rows
    // quantize to (writeIvfPqStore's fit).
    val dense = corpus.where(
        if (requireNonZero) cosineUsable(col(vecCol)) else finiteVec(col(vecCol)))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("cv"))
      .persist()
    val firstDim = dense.select(size(col("cv"))).take(1)
    require(firstDim.nonEmpty,
      "PQ codebook fit input is empty — no finite vector to fit on")
    val dim = firstDim.head.getInt(0)
    // dim >= m: zero-length vectors pass finiteVec (the residual-path
    // filter) and 0 % m == 0, so without the floor an empty-array input
    // would silently fit zero-length codebooks every vector "encodes" to
    // at ADC distance 0 — a garbage store with no error anywhere
    require(dim >= m && dim % m == 0,
      s"dim=$dim must be a positive multiple of m=$m subspaces")
    val dsub = dim / m
    // seeded deterministic init: ksub hash-chosen corpus rows, sliced per
    // subspace (hash order ≈ uniform sample; TakeOrdered keeps it scan-cheap)
    val initRows = dense
      .withColumn("h", xxhash64(col("id"), lit(seed)))
      .orderBy(col("h"), col("id")).limit(ksub)
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      initRows.map(v => v.slice(j * dsub, (j + 1) * dsub))
    }
    for (_ <- 1 to maxIter) {
      val bc = spark.sparkContext.broadcast(cents)
      val codesU = udf { (v: Seq[Double]) =>
        val cb = bc.value
        (0 until cb.length).map { j =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cb(j).length) {
            val cent = cb(j)(c); var d = 0.0; var i = 0
            while (i < cent.length) {
              val x = v(j * cent.length + i) - cent(i); d += x * x; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
      }
      // one corpus scan: assign → explode dims → partial-combined sums.
      // The exchange carries m·ksub·dsub cells per partition, not rows.
      val stats = dense
        .withColumn("codes", codesU(col("cv")))
        .select(posexplode(col("cv")).as(Seq("pos", "x")), col("codes"))
        .withColumn("subspace", (col("pos") / dsub).cast("int"))
        .withColumn("code", element_at(col("codes"), col("subspace") + 1))
        .groupBy("subspace", "code", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      stats.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((j, c), rs) =>
        rs.foreach { r =>
          next(j)(c)(r.getInt(2) - j * dsub) = r.getLong(4) match {
            case 0L => next(j)(c)(r.getInt(2) - j * dsub)
            case n  => r.getDouble(3) / n
          }
        }
      }
      bc.destroy()
      cents = next
    }
    dense.unpersist()
    cents.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
  }

  /** Collect a (subspace, code, centroid) codebook frame into the m ×
    * ksub × dsub array the map-side encode/LUT kernels loop over —
    * m·ksub rows, tiny by definition (same collect rationale as
    * [[assignCells]]'s centroid table). */
  private def collectCodebooks(cb: DataFrame): Array[Array[Array[Double]]] =
    cb.select("subspace", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** Map-side PQ encode kernel: vector → its m nearest-codeword codes
    * against the collected codebooks. Shared by [[pqEncode]] (raw
    * vectors) and the persisted [[writeIvfPqStore]]/[[appendVectorStore]]
    * build passes (residuals). Boxed element type via [[unboxFinite]],
    * same trap as assignCells' argmin; an unusable vector encodes to
    * NULL codes (unservable — every call site sits behind cosineUsable,
    * so this is defense in depth, not a live path). */
  private def pqCodesUdf(cb: Array[Array[Array[Double]]]) = udf { (boxed: Seq[java.lang.Double]) =>
    val v = unboxFinite(boxed)
    if (v == null) null
    else (0 until cb.length).map { j =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb(j).length) {
        val cent = cb(j)(c); var d = 0.0; var i = 0
        while (i < cent.length) {
          val x = v(j * cent.length + i) - cent(i); d += x * x; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Per-query ADC lookup table: partial squared distances from the query
    * (for [[pqTopK]]'s global-codebook layout) or the query's RESIDUAL
    * against a probed cell's centroid (for [[ivfPqStoreTopK]]'s residual
    * layout) to every codeword — m × ksub doubles, tiny. Boxed input,
    * same rationale as [[pqCodesUdf]]. */
  private def pqLutUdf(cb: Array[Array[Array[Double]]]) = udf { (boxed: Seq[java.lang.Double]) =>
    val qv = unboxFinite(boxed)
    if (qv == null) null
    else cb.zipWithIndex.map { case (sub, j) =>
      sub.map { cent =>
        var d = 0.0; var i = 0
        while (i < cent.length) {
          val x = qv(j * cent.length + i) - cent(i); d += x * x; i += 1
        }
        d
      }.toSeq
    }.toSeq
  }

  /** Summed-LUT asymmetric distance of a code row — the codegen
    * [[graft.functions.PqAdc]] kernel (NULL-propagating like every
    * binary expression; bit-for-bit the old UDF's ascending-subspace
    * sum). THE per-candidate kernel of the PQ serves: it evaluates once
    * per probed code row — a √n-per-cell-growing population — so the
    * interpreted-UDF form was the measured growth driver of the
    * 100×-corpus ADC serve wall while every surrounding read stayed
    * pruned. */
  private def pqAdc(codes: Column, lut: Column): Column =
    graft.functions.PqAdc.pq_adc(codes, lut)

  /** Map-side residual kernel: `v − centroid(cell)` against a collected
    * centroid table — the FAISS-IVFPQ residual the persisted store
    * encodes and serves in ([[writeIvfPqStore]]). An unusable vector or
    * an unknown/NULL cell yields NULL (unroutable, same policy as
    * assignCells). */
  private def residUdf(cents: Array[(Int, Array[Double])]) = {
    val byCell = cents.toMap
    udf { (boxed: Seq[java.lang.Double], cell: java.lang.Integer) =>
      val v = unboxFinite(boxed)
      if (v == null || cell == null) null
      else byCell.get(cell.intValue) match {
        case None => null
        case Some(c) =>
          val out = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
          out.toSeq
      }
    }
  }

  /** PQ-encode a corpus: each vector → its m nearest-centroid codes.
    * GENUINELY map-side (broadcast codebooks, tight argmin loop per row;
    * zero shuffles) — the build pass of a PQ index. Null vectors are
    * dropped: a null has no codes and could never be served. */
  def pqEncode(df: DataFrame, codebooks: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codesU = pqCodesUdf(collectCodebooks(codebooks))
    df.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("nn_id"),
        codesU(asDouble(col(vecCol))).as("codes"))
  }

  /** PQ ANN via asymmetric distance computation: each query precomputes a
    * lookup table of partial squared distances to every codebook centroid
    * (m × ksub doubles — tiny), the ADC scan ranks corpus CODES by summed
    * table lookups without ever touching a corpus float, and only the
    * `refine`·k shortlist per query is exact-cosine re-ranked.
    *
    * Scale shape: the scan side carries (id, m codes) — bytes per row
    * however wide the embeddings are; queries broadcast WITH their LUTs;
    * the shortlist window's partial top-k pushes down (WindowGroupLimit),
    * so the exchange carries ≤ refine·k candidates per query per
    * partition; full-precision vectors re-attach to shortlist survivors
    * only (the same id-only-shuffle pattern as [[lshTopK]]). Emits the
    * standard (query_id, nn_id, cosine, rank) surface. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 32, refine: Int = 8,
             idCol: String = "vec_id", vecCol: String = "embedding",
             seed: Long = 42L,
             codebooks: Option[DataFrame] = None): DataFrame = {
    val cbDf = codebooks.getOrElse(
      fitPqCodebooks(corpus, m, ksub, idCol, vecCol, seed))
    val cb = collectCodebooks(cbDf)
    val enc = pqEncode(corpus, cbDf, idCol, vecCol)
    val lutU = pqLutUdf(cb)
    val adcU = pqAdc _
    val q = queries.where(cosineUsable(col(vecCol)))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").asc, col("nn_id").asc)
    val shortlist = enc
      .crossJoin(broadcast(q.select(col("query_id"), lutU(col("qv")).as("lut"))))
      .where(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        adcU(col("codes"), col("lut")).as("adc"))
      // a NULL adc (the null-propagating guard's output — not a live
      // path, every call site filters usability upstream) must DROP the
      // row, not top the shortlist: the window's asc puts NULLS FIRST
      .where(col("adc").isNotNull)
      .withColumn("crk", row_number().over(wAdc))
      .where(col("crk") <= refine * k)
      .select("query_id", "nn_id")
    // cast AFTER the shortlist join — survivors only, not the whole
    // corpus (same ordering-for-scale as refineAgainstFlat; shortlist ids
    // all come from pqEncode's usable rows, so no filter is needed)
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__fv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nn_id").asc)
    shortlist.join(c, Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosine(asDouble(col("__fv")), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // ------------------------------------------------- persisted IVF-PQ store

  /** Persisted IVF-PQ index — the composition a 100 TB vector corpus is
    * actually served from (Jégou, Douze & Schmid, TPAMI 2011; the FAISS
    * `IVFPQ` layout): corpus vectors persist as m PQ CODES (bytes at
    * rest — m=8 ints here vs 64 doubles, the 32×-smaller tier below
    * int8), routed into IVF cells so a serve reads only the probed
    * cells' code rows, committed through the SAME manifest-pointer store
    * as every other index here (atomic commits, racing readers resolve a
    * committed version, time travel until vacuum).
    *
    * RESIDUAL encoding (the standard FAISS IVFPQ layout): each vector
    * encodes as `v − centroid(cell)` against codebooks FIT ON RESIDUALS,
    * not as the raw vector against one global codebook set. The residual
    * distribution is re-centered at the origin for every cell, so the
    * ksub codewords per subspace spend their whole budget on WITHIN-cell
    * detail instead of re-describing the between-cell spread the coarse
    * quantizer already removed — at a fixed code budget the ADC
    * shortlist's recall is strictly higher (AnnSpec pins this against a
    * global-codebook encode on the planted-cluster fixture). The serve
    * LUT is therefore per (query, probed cell): partial distances of
    * `q − centroid(cell)` to the codewords, so the summed ADC distance
    * approximates ‖q − (centroid + codeword)‖² exactly as in the flat
    * layout.
    *
    * The residual codebooks fit on a deterministic hash-sample above
    * `fitSampleCap` rows (same rationale and rule as [[fitCentroids]]):
    * the Lloyd loop must never scan a 100 TB corpus per iteration, and
    * PQ codebooks — like coarse cells — are trained on a sample in every
    * production deployment.
    *
    * Both quantizers ride IN the store, each in its own reserved
    * routing bucket of the SAME manifest version — coarse centroids at
    * bucket `nCells` (`nn_id = -1 - cell, cv = centroid`, the
    * [[writeIvfStore]] encoding) and RESIDUAL-SPACE PQ codebooks at
    * bucket `nCells + 1` (`codes = [subspace, code], cv = codeword`) —
    * so routing, encoding, and the codes they produced commit
    * ATOMICALLY: no version can pair codes with the wrong codebooks,
    * which would silently corrupt every ADC distance. A caller-supplied
    * `codebooks` frame MUST be residual-space (e.g. read back from
    * another store built on the same centroids via
    * [[readIvfPqCodebooks]]); raw-vector codebooks would encode, but
    * with exactly the recall loss this layout exists to remove.
    *
    * Null/zero-norm/NaN vectors are dropped at write time (unroutable
    * and unservable — same policy as [[writeIvfStore]]). */
  def writeIvfPqStore(corpus: DataFrame, path: String, nCells: Int = 0,
                      m: Int = 8, ksub: Int = 32,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      seed: Long = 42L,
                      centroids: Option[DataFrame] = None,
                      codebooks: Option[DataFrame] = None,
                      codebookIters: Int = 3,
                      fitSampleCap: Long = 10000L): Unit = {
    val dense = corpus.where(cosineUsable(col(vecCol)))
    // both quantizers collected ONCE (same rationale as writeIvfStore);
    // the codebooks also surface their ACTUAL code domain — nn_id
    // encoding must use it, not the ksub argument, or caller-supplied
    // codebooks with a larger ksub would collide codebook-row keys
    val cents = collectedCentroids(
      centroids.getOrElse(fitCentroids(dense, nCells, vecCol, seed)))
    // the assigned frame feeds BOTH the residual-codebook fit (maxIter
    // scans inside fitPqCodebooks) and the encode pass — persist it so
    // the source read + argmin run once, not once per consumer
    val assigned = assignCellsCollected(dense, cents, idCol, vecCol).persist()
    // try/finally brackets EVERYTHING after the persist — a throw from
    // the residual-codebook fit, the collect, or the non-empty require
    // must not leak the cached frame for the session
    try {
    val n = assigned.count()
    val rU = residUdf(cents)
    val resid = assigned.select(col("nn_id"), rU(col("cv"), col("cell")).as("rv"),
      col("cell"))
    val cb = collectCodebooks(codebooks.getOrElse {
      // bounded fit input: deterministic seeded hash-sample above the cap
      // (keep-one-in-s residue classes — no RNG, same rows every run),
      // exactly fitCentroids' rule. Below the cap the full residual frame
      // fits, so fixture-scale codes are sample-invariant.
      val fitInput =
        if (n <= fitSampleCap) resid
        else {
          val keepOneIn = math.max(2L, (n + fitSampleCap - 1) / fitSampleCap)
          resid.where(pmod(xxhash64(col("nn_id"), lit(seed)), lit(keepOneIn)) === 0)
        }
      fitPqCodebooks(fitInput, m, ksub, "nn_id", "rv", seed, codebookIters,
        requireNonZero = false)
    })
    require(cb.nonEmpty && cb.forall(_.nonEmpty),
      "codebooks frame is empty — nothing to encode with")
    val ksubActual = cb.map(_.length).max
    val codesU = pqCodesUdf(cb)
    val reserved = cents.map(_._1).max + 1
    val nullCodes = lit(null).cast("array<int>")
    val nullVec = lit(null).cast("array<double>")
    // data rows: RESIDUAL codes only — the full-precision vector does NOT
    // persist here (that is the point of the layout; exact refinement
    // reads a flat store, see ivfPqStoreTopK's refineFrom)
    val data = resid
      .select(col("nn_id"), codesU(col("rv")).as("codes"), nullVec.as("cv"),
        col("cell").as(IO.BucketCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centRows = cents.toSeq
      .map { case (cell, c) => (-1L - cell, c.toSeq) }
      .toDF("nn_id", "cv")
      .select(col("nn_id"), nullCodes.as("codes"), col("cv"),
        lit(reserved).as(IO.BucketCol))
    // codebook rows: identity IS the (subspace, code) pair, carried in
    // `codes`; the nn_id key space sits BELOW the centroid rows' range
    // [-reserved, -1] (offset by the cell count), so no centroid row and
    // no codebook row can ever collide on the store's key column —
    // unique within the codebook rows because `code < ksubActual` by
    // construction
    val cbRows = cb.zipWithIndex.toSeq
      .flatMap { case (sub, j) => sub.zipWithIndex.map { case (cent, c) =>
        (-1L - reserved - (j.toLong * ksubActual + c), Seq(j, c), cent.toSeq) } }
      .toDF("nn_id", "codes", "cv")
      .withColumn(IO.BucketCol, lit(reserved + 1))
    // layout tag committed atomically with the data — see writeIvfStore
    IO.writePartitionedStore(data.unionByName(centRows).unionByName(cbRows),
      path, keys = Seq("nn_id"), nBuckets = reserved + 2,
      layoutTag = Some("ivfpq"))
    } finally assigned.unpersist(blocking = false)
  }

  /** One-word layout marker distinguishing the IVF layout (cells + ONE
    * reserved bucket) from the IVF-PQ layout (cells + TWO) — nothing
    * else on disk does, so e.g. [[readCentroids]] pointed at an IVF-PQ
    * path would silently decode the CODEBOOK bucket as centroids and
    * route every subsequent append by garbage distances. Readers require
    * a match and fail loudly instead. */
  private val StoreKindFile = "_graft_store_kind"
  /** private[graft]: a store persisted BEFORE the marker existed needs a
    * one-time `writeStoreKind(spark, path, "ivf")` migration touch —
    * tooling-level, deliberate, never guessed by a reader. Recorded
    * decision: NO silent legacy fallback (a missing marker does NOT read
    * as 'ivf') — the only pre-marker stores ever written were ephemeral
    * target/qtmp paths that die with the JVM, so there is no durable
    * population to migrate, and guessing would reintroduce exactly the
    * decode-codebooks-as-centroids corruption the marker exists to stop;
    * the requireStoreKind error message carries the migration recipe. */
  private[graft] def writeStoreKind(spark: SparkSession, path: String, kind: String): Unit = {
    val (fs, p) = sidecar(spark, path, StoreKindFile)
    IO.writeSmallFile(fs, p, kind)
  }
  /** The store's layout kind ('ivf' | 'ivfpq') from its marker; fails
    * loudly on a missing marker (see [[writeStoreKind]] for the recorded
    * no-legacy-fallback decision). */
  private def readStoreKind(spark: SparkSession, path: String): String = {
    val (fs, p) = sidecar(spark, path, StoreKindFile)
    require(fs.exists(p),
      s"$path has no _graft_store_kind marker — not a graft vector store " +
        "(a store persisted before the marker existed needs the one-time " +
        "writeStoreKind migration touch)")
    IO.readSmallFile(fs, p).trim
  }

  private def requireStoreKind(spark: SparkSession,
                               path: String, kind: String): Unit = {
    val got = readStoreKind(spark, path)
    require(got == kind,
      s"$path is a '$got' store, not '$kind' — its reserved buckets would " +
        "decode as garbage quantizers")
  }

  /** The reserved quantizer bucket ids of a store, by its marker: the
    * IVF layout reserves ONE bucket (centroids), IVF-PQ reserves TWO
    * (centroids + codebooks). The kind-agnostic maintenance surface
    * (fragmentation check, compaction, staleness) routes through this
    * so it can never mistake a quantizer bucket for a data cell. */
  private def reservedStoreBuckets(spark: SparkSession,
                                   path: String): Set[Int] = {
    val n = IO.storeBuckets(path)
    (0 until n).toSet -- dataCellsOf(readStoreKind(spark, path), n, path)
  }

  /** The coarse centroid table of a persisted IVF-PQ store (reserved
    * bucket `nCells`), through the committed manifest. */
  def readIvfPqCentroids(spark: SparkSession,
                         path: String): DataFrame = {
    requireStoreKind(spark, path, "ivfpq")
    val reserved = IO.storeBuckets(path) - 2
    IO.readStoreBuckets(spark, path, Set(reserved))
      .select((-col("nn_id") - 1).cast("int").as("cell"),
        col("cv").as("centroid"))
  }

  /** The RESIDUAL-SPACE PQ codebooks of a persisted IVF-PQ store
    * (reserved bucket `nCells + 1`), decoded back to the
    * (subspace, code, centroid) shape [[fitPqCodebooks]] emits.
    * Residual-space: codewords quantize `v − centroid(cell)`, so they
    * are only meaningful together with the SAME store's coarse
    * centroids ([[readIvfPqCentroids]]). */
  def readIvfPqCodebooks(spark: SparkSession,
                         path: String): DataFrame = {
    requireStoreKind(spark, path, "ivfpq")
    val reserved = IO.storeBuckets(path) - 1
    IO.readStoreBuckets(spark, path, Set(reserved))
      .select(element_at(col("codes"), 1).as("subspace"),
        element_at(col("codes"), 2).as("code"), col("cv").as("centroid"))
  }

  /** Both quantizers in ONE pruned scan of the two reserved buckets,
    * assembled driver-side — serve/append pay one read job instead of
    * two, and the collect is bounded by construction (nCells + m·ksub
    * tiny rows, never data). Returns the centroid frame [[probeFrame]]
    * broadcasts and the collected codebooks the encode/LUT kernels
    * loop over. */
  private def loadIvfPqQuantizers(spark: SparkSession,
                                  path: String):
      (DataFrame, Array[(Int, Array[Double])], Array[Array[Array[Double]]]) = {
    requireStoreKind(spark, path, "ivfpq")
    val nCells = IO.storeBuckets(path) - 2
    val rows = IO.readStoreBuckets(spark, path, Set(nCells, nCells + 1))
      .collect()
    import spark.implicits._
    // collection.Seq + toVector: Spark hands back a MUTABLE ArraySeq, and
    // both a `getAs[Seq[_]]` checkcast (2.13 Seq = immutable.Seq) and the
    // local-seq encoder reject it
    val centArr = rows.filter(_.getAs[Int](IO.BucketCol) == nCells)
      .map(r => ((-r.getAs[Long]("nn_id") - 1).toInt,
        r.getAs[scala.collection.Seq[Double]]("cv").toArray))
      .sortBy(_._1)
    val cents = centArr.toSeq.map { case (c, v) => (c, v.toVector) }
      .toDF("cell", "centroid")
    val cb = rows.filter(_.getAs[Int](IO.BucketCol) == nCells + 1)
      .map { r =>
        val sc = r.getAs[scala.collection.Seq[Int]]("codes")
        (sc(0), sc(1), r.getAs[scala.collection.Seq[Double]]("cv").toArray)
      }
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    (cents, centArr, cb)
  }

  /** The code rows of a persisted IVF-PQ store — (nn_id, codes, cell)
    * through the CURRENT committed manifest, reserved buckets excluded. */
  def readIvfPqStore(spark: SparkSession,
                     path: String): DataFrame = {
    requireStoreKind(spark, path, "ivfpq")
    val nCells = IO.storeBuckets(path) - 2
    IO.readStoreBuckets(spark, path, (0 until nCells).toSet)
      .withColumnRenamed(IO.BucketCol, "cell")
      .select("nn_id", "codes", "cell")
  }

  /** Serve top-k from the persisted IVF-PQ index: nProbe cells per query
    * via the stored centroids, store read PRUNED to the probed cells'
    * code rows ([[route]] — the scan never touches a float of the
    * corpus), ADC-ranked shortlist of `refine`·k per query via the stored
    * codebooks' LUTs ([[pqRanked]]), then
    *
    *  - `refineFrom = Some(flat)`: exact-cosine re-rank of the shortlist
    *    against the given full-precision store — the standard
    *    "IVFPQ shortlist + flat refine" serving topology; emits the
    *    engine's (query_id, nn_id, cosine, rank) surface. The flat read
    *    attaches ≤ refine·k rows per query by id.
    *  - `refineFrom = None`: pure code-domain serve (what a deployment
    *    without a flat tier does); emits (query_id, nn_id, adc_dist,
    *    rank) ranked by ADC distance asc.
    */
  def ivfPqStoreTopK(spark: SparkSession, path: String,
                     queries: DataFrame, k: Int, nProbe: Int = 4, refine: Int = 8,
                     refineFrom: Option[DataFrame] = None,
                     allowedIds: Option[DataFrame] = None,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (ranked, qPinned) = pqRanked(spark, path, queries, nProbe, allowedIds, idCol, vecCol)
    val shortlist = ranked.where(col("crk") <= refine * k)
    refineFrom match {
      case Some(flat) =>
        refineAgainstFlat(shortlist.select("query_id", "nn_id"), flat,
            qPinned, idCol, vecCol)
          .withColumn("rank", row_number().over(byCosine)).where(col("rank") <= k)
      case None =>
        shortlist
          .select(col("query_id"), col("nn_id"), round(col("adc"), 4).as("adc_dist"))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("adc_dist").asc, col("nn_id").asc)))
          .where(col("rank") <= k)
    }
  }

  /** The code-domain rank shared by the IVF-PQ serve and its refine-curve
    * candidates: [[route]] through the stored centroids, then every probed
    * code row's ADC distance and ADC rank `crk` (adc asc, nn_id asc), with
    * no shortlist cut. Returns (ranked rows, the pinned (query_id, qv) set
    * the flat refine joins back). The LUT is per (query, PROBED CELL):
    * partial distances of (qv − centroid(cell)) to the residual codewords,
    * so summed ADC ≈ ‖q − (centroid + codeword)‖², comparable across cells.
    * A filtered search restricts the CODE rows before the rank, so shortlist
    * and refined result are the true top-k of the allowed subset. */
  private def pqRanked(spark: SparkSession, path: String, queries: DataFrame,
                       nProbe: Int, allowedIds: Option[DataFrame],
                       idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val (cents, centArr, cb) = loadIvfPqQuantizers(spark, path)
    val (probes, rows) = route(spark, path, queries, cents, nProbe, idCol, vecCol)
    val codes = restrictToAllowed(rows.select("nn_id", "codes", "cell"), allowedIds, idCol)
    val lutU = pqLutUdf(cb)
    val rU = residUdf(centArr)
    val probeLuts = probes
      .withColumn("lut", lutU(rU(col("qv"), col("cell"))))
      .select("query_id", "cell", "lut")
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").asc, col("nn_id").asc)
    val ranked = codes
      .join(broadcast(probeLuts), Seq("cell"))
      .where(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        pqAdc(col("codes"), col("lut")).as("adc"))
      // same NULLS-FIRST trap as pqTopK's shortlist window — a NULL adc
      // is dropped, never ranked
      .where(col("adc").isNotNull)
      .withColumn("crk", row_number().over(wAdc))
    (ranked, probes.select(col("query_id"), col("qv")).dropDuplicates("query_id"))
  }

  /** The flat-tier exact re-rank join of a PQ shortlist, ORDERED FOR
    * SCALE: the shortlist (≤ refine·k rows per query) joins the flat corpus
    * on the RAW vector column first, and the usability filter, the double
    * cast and the cosine run on the join survivors only — filtering the
    * whole flat side first would be an O(corpus) pass per serve. The filter
    * and cast commute with the inner equi-join, so the rows are the same. */
  private def refineAgainstFlat(shortIds: DataFrame, flat: DataFrame,
                                qPinned: DataFrame,
                                idCol: String, vecCol: String,
                                carry: Seq[String] = Seq.empty): DataFrame =
    shortIds
      .join(flat.select(col(idCol).as("nn_id"), col(vecCol).as("__fv")),
        Seq("nn_id"))
      .where(cosineUsable(col("__fv")))
      .join(broadcast(qPinned), Seq("query_id"))
      .select(Seq(col("query_id"), col("nn_id"),
        round(cosine(asDouble(col("__fv")), col("qv")), 4).as("cosine")) ++
        carry.map(col): _*)

  /** Refine-curve candidates: the full ADC rank ([[pqRanked]], no
    * shortlist cut) refine-joined to the flat tier's exact cosines, `crk`
    * carried. For ANY refine width r the rows with `crk <= r·k` are
    * exactly the shortlist [[ivfPqStoreTopK]] at that width re-ranks (a
    * wider shortlist is a superset under one total ADC order), so
    * [[topKAt]] over this frame reproduces that serve row for row and
    * [[tuneRefine]] measures its whole grid from one pass. */
  private[graft] def ivfPqRefineCandidates(spark: SparkSession, path: String,
                                           queries: DataFrame, nProbe: Int,
                                           refineFrom: DataFrame,
                                           idCol: String = "vec_id",
                                           vecCol: String = "embedding"): DataFrame = {
    val (ranked, qPinned) = pqRanked(spark, path, queries, nProbe, None, idCol, vecCol)
    refineAgainstFlat(ranked.select("query_id", "nn_id", "crk"), refineFrom,
      qPinned, idCol, vecCol, carry = Seq("crk"))
  }

  /** Measure the IVF-PQ store's recall-vs-refine curve at a FIXED nProbe
    * and PERSIST it ([[measureCurve]]). At a fixed probe budget this
    * layout's own recall knob is the ADC SHORTLIST WIDTH (nProbe tunes on
    * the flat tier, [[tuneProbe]]). The theorem point is refine·k ≥ the
    * store's code rows: the cut cannot bind, so the serve IS the exact
    * flat-refined rank of every probed candidate. `refineFrom`, the
    * full-precision flat tier, is REQUIRED: a code-domain rank measured
    * against itself would measure nothing. An OFFLINE maintenance op. */
  def tuneRefine(spark: SparkSession, path: String,
                 queries: DataFrame, refineFrom: DataFrame, k: Int = 10,
                 nProbe: Int = 4, refines: Seq[Int] = Seq.empty,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireStoreKind(spark, path, "ivfpq")
    measureCurve(spark, path, Knob.Refine, queries, k, Some(nProbe), refines, idCol, vecCol)(
      math.max(1L, (readIvfPqStore(spark, path).count() + k - 1) / k).toInt)(
      q => ivfPqRefineCandidates(spark, path, q, nProbe, refineFrom, idCol, vecCol))
  }

  /** [[ivfPqStoreTopK]] at a RECALL TARGET: the shortlist width resolves
    * against the store's persisted refine curve, which must have been
    * tuned at the serving k and probe count and must be current
    * ([[requireCurrent]]). */
  def ivfPqStoreTopKAtRecall(spark: SparkSession, path: String, queries: DataFrame,
                             k: Int, minRecall: Double, refineFrom: DataFrame,
                             nProbe: Int = 4, allowedIds: Option[DataFrame] = None,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             allowStale: Boolean = false): DataFrame = {
    if (!allowStale) requireCurrent(spark, path, Knob.Refine)
    ivfPqStoreTopK(spark, path, queries, k, nProbe = nProbe,
      refine = resolveCurve(spark, path, Knob.Refine, minRecall, forK = k, forProbe = nProbe),
      refineFrom = Some(refineFrom), allowedIds = allowedIds,
      idCol = idCol, vecCol = vecCol)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * N ranked candidate lists — the standard hybrid-retrieval combiner
    * for a lexical (BM25) and a semantic (cosine) ranking, robust to the
    * lists' incomparable score scales because only RANKS enter:
    * rrf(d) = Σ_lists 1/(kRrf + rank_list(d)).
    *
    * Each input is (idCol, rankCol) with rank 1 = best; a doc absent
    * from a list simply contributes nothing (the standard convention),
    * and a doc appearing MORE THAN ONCE within one list contributes only
    * its best (lowest) rank — enforced by a per-list max-contribution
    * aggregate, so a producer that emits duplicates cannot double-count
    * a list or inflate `n_lists` (a plain union-then-sum would report
    * the doc as present in two lists). Scale shape: inputs are already
    * top-m bounded by their producers, so the per-list dedup + union +
    * id-keyed aggregation exchange ≤ N·m tiny rows; fusion adds no scan
    * of anything corpus-sized. Deterministic: the sum is over exact
    * 1/(k+r) doubles from integer ranks, rounded 6dp; ties break on id
    * downstream. Emits (id, n_lists, rrf). */
  def rrfFuse(lists: Seq[DataFrame], idCol: String = "doc_id",
              rankCol: String = "rank", kRrf: Int = 60): DataFrame =
    rrfFuseGrouped(lists, Seq.empty, idCol, rankCol, kRrf)

  /** [[rrfFuse]] for a QUERY BATCH: each input list carries per-query
    * ranked candidates (`queryCol`, `idCol`, `rankCol`, rank 1 = best
    * within its query) and fusion runs independently per query — the
    * serving shape of a hybrid-retrieval loop, where the lexical arm is
    * [[Bm25Store.topKBatch]] and the semantic arm a batched vector-store
    * serve, and a per-query rrfFuse call would put one Spark job per
    * query on the driver. Same per-list best-rank-wins dedup, same
    * arithmetic, so each query's fused rows equal its own single-query
    * [[rrfFuse]] bit-for-bit. Emits (queryCol, id, n_lists, rrf). */
  def rrfFuseBatch(lists: Seq[DataFrame], queryCol: String = "query_id",
                   idCol: String = "doc_id", rankCol: String = "rank",
                   kRrf: Int = 60): DataFrame =
    rrfFuseGrouped(lists, Seq(queryCol), idCol, rankCol, kRrf)

  /** ONE definition of the RRF arithmetic shared by the single and batch
    * forms (the same structural-parity rule as [[Bm25Store]]'s
    * contribution tree): per-list max-contribution dedup, union,
    * grouped 1/(k+r) sum rounded 6dp. */
  private def rrfFuseGrouped(lists: Seq[DataFrame], groupCols: Seq[String],
                             idCol: String, rankCol: String,
                             kRrf: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(kRrf >= 1, s"kRrf must be >= 1; got $kRrf")
    val keys = groupCols :+ idCol
    lists.map(df => df.select(keys.map(col) :+
        ((lit(1.0) / (lit(kRrf.toDouble) + col(rankCol).cast("double")))
          .as("__contrib")): _*)
        // best-rank-wins within one list: max contribution = min rank
        .groupBy(keys.map(col): _*).agg(max("__contrib").as("__contrib")))
      .reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("int").as("n_lists"),
        round(sum("__contrib"), 6).as("rrf"))
  }

  /** Quantize-then-dequantize (the value an int8 store actually serves at
    * query time): code_i × scale / 127, in one pass from the original. */
  private val dequantUdf = udf { (boxed: Seq[java.lang.Double]) =>
    // same unquantizable rule as quantUdf — critically for NaN: the NaN
    // code would dequantize to 0.0, LAUNDERING the poisoned vector into
    // one cosineUsable accepts, so the quantized store could serve a
    // neighbor the exact oracle excludes
    if (boxed == null ||
        boxed.exists(d => d == null || d.doubleValue.isNaN || d.doubleValue.isInfinite)) null
    else {
      val (_, s, q) = quantCodes(boxed.map(_.doubleValue))
      q.map(_ * s / 127.0)
    }
  }

  /** Quantize an embedding column; returns (id, scale, qvec-as-csv,
    * max_abs_err, cos_drift). The codes are emitted as a CSV string so the
    * result is directly hashable/sortable by the oracle compare. */
  def quantize(df: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), quantUdf(asDouble(col(vecCol))).as("st"))
      .select(col(idCol),
        round(col("st._1"), 6).as("scale"),
        col("st._2").as("qvec"),
        round(col("st._3"), 6).as("max_abs_err"),
        round(col("st._4"), 6).as("cos_drift"))

  /** Exact top-k served from the QUANTIZED store: the corpus side is
    * dequantized int8 codes (what a 4×-compressed embedding store returns),
    * queries stay full precision. Same plan as [[bruteTopK]] — broadcast
    * queries, codegen cosine, per-query partial top-k — and fully
    * deterministic (quantization has no seed), so the whole search is
    * value-oracle-checkable end to end. */
  def quantTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bruteTopK(
      corpus.select(col(idCol), dequantUdf(asDouble(col(vecCol))).as(vecCol)),
      queries, k, idCol, vecCol)
}
