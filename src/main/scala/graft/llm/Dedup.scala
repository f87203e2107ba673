package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over `documents`.
  *
  * Scale design: every near-dup variant here is *blocked* — candidate pairs
  * come from an equi-join on a blocking key (shingle, LSH bucket, SimHash
  * band), never from an all-pairs comparison. The only O(n²) path is the
  * tiny exact-Jaccard oracle used in tests.
  */
object Dedup {

  /** Materialize `result` eagerly (local checkpoint — truncates lineage and
    * stores the small pair set), then release the intermediate caches it
    * was built from. Without this, repeated operator invocations in a
    * long-lived session accumulate storage memory until eviction pressure
    * degrades the whole engine; checkpoint blocks, by contrast, are freed
    * by the ContextCleaner once the returned frame is garbage collected. */
  private def releasing(intermediates: DataFrame*)(result: DataFrame): DataFrame =
    // plan-audit mode (graft.Plans): return the raw frame so the explain
    // shows the operator chain, not a checkpoint read; the audit session
    // is short-lived, so skipping the cache release is harmless there
    if (sys.props.contains("graft.audit.rawPlans")) result
    else {
      val out = result.localCheckpoint()
      intermediates.foreach(graft.Sweep.release)
      out
    }

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest doc_id as the canonical survivor plus the duplicate count.
    * A single hash-shuffle groupBy; the md5 key keeps the shuffle narrow
    * (16 bytes) regardless of document size. */
  def exact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word n-shingles of a text column, first-occurrence order.
    *
    * One tight JVM loop (UDF) rather than the equivalent
    * `transform(sequence)/slice/concat_ws` Column formulation: Spark
    * evaluates higher-order-function lambdas interpreted, so the Column
    * form costs ~tokens × n interpreted calls per document — measured as
    * the dominant cost of every shingle-based dedup at sf0.1. The stage is
    * a narrow map; losing codegen here costs nothing. */
  def shingles(c: Column, n: Int = 3): Column =
    shingleUdf(TextAnalysis.tokens(c), lit(n))

  private val shingleUdf = udf { (toks: Seq[String], n: Int) =>
    // null text → tokens() yields null; propagate it like the Column
    // formulation would instead of NPEing the stage
    if (toks == null) null
    else if (toks.length >= n) {
      // LinkedHashSet = array_distinct semantics (keep first occurrence)
      val out = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }
    // zero tokens (empty/whitespace-only text) → NO shingles: an empty
    // doc has no similarity surface, and the Seq("") a bare mkString
    // would emit pairs every empty doc with every other empty doc at
    // J = 1.0 — while the SQL oracle's list_distinct drops its NULL
    // element and emits nothing. Short docs (1 to n-1 tokens) keep the
    // whole-text shingle on both sides.
    else if (toks.isEmpty) Seq.empty
    else Seq(toks.mkString(" "))
  }

  /** Exact n-gram (shingle) Jaccard near-dup pairs, formulated as a shingle
    * equi-join — the scalable exact method: explode distinct shingles, join
    * on shingle, count shared, then J = shared / (|A| + |B| - shared).
    * Never materializes non-overlapping pairs. Skew note: stop-shingles can
    * create hot keys; `maxShingleDf` drops shingles whose document frequency
    * exceeds the cap (a standard, explicit precision/recall trade). */
  def jaccardPairs(df: DataFrame, textCol: String = "text", n: Int = 3,
                   threshold: Double = 0.5, maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = df.select(col("doc_id"), shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // join on the shingle's 64-bit hash, not the string: the self-join
    // shuffles |docs|×|shingles| rows, and an 8-byte fixed-width key beats
    // a multi-word string on shuffle volume and compare cost (shingle sets
    // are distinct per doc, so hashing changes counts only on a 64-bit
    // collision within a doc pair's union — vanishing at any corpus size
    // this engine targets)
    val exploded = sh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle"))
    val filtered = (maxShingleDf match {
      case Some(cap) =>
        val df_ = exploded.groupBy("shingle").agg(count(lit(1)).as("sdf"))
          .where(col("sdf") <= cap)
        exploded.join(df_, "shingle")
      case None => exploded
    }).cache() // read twice (both join sides) — shingle/tokenize once
    val a = filtered.select(col("doc_id").as("idA"), col("n_sh").as("nA"), col("shingle"))
    val b = filtered.select(col("doc_id").as("idB"), col("n_sh").as("nB"), col("shingle"))
    releasing(filtered) {
      a.join(b, Seq("shingle"))
        .where(col("idA") < col("idB"))
        .groupBy("idA", "idB", "nA", "nB")
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("nA") + col("nB") - col("shared")))
        .where(col("jaccard") >= threshold)
        .select("idA", "idB", "jaccard")
    }
  }

  /** MinHash near-dup via *banded* signatures: k = bands × rowsPerBand
    * min-hashes per document; a band key is the hash of its `rowsPerBand`
    * consecutive signature values, and candidates come from an equi-join on
    * (band index, band key).
    *
    * Why not MLlib's MinHashLSH: its `approxSimilarityJoin` uses ONE hash
    * per band (pure OR-construction), so the candidate count scales with
    * per-hash collision probability ≈ base Jaccard similarity of the
    * corpus. On a shared-vocabulary corpus (every real-world crawl; this
    * fixture) the base similarity is far from 0 and the "blocked" join
    * degenerates toward all-pairs — observed as ~10⁹ candidates at sf0.1.
    * AND-ing `rowsPerBand` hashes inside a band drives the random-pair
    * collision rate to s^r (negligible) while keeping near-dup recall at
    * 1-(1-s^r)^b — the standard LSH banding scheme done properly.
    *
    * Output carries the signature-estimated Jaccard (`jaccard_est`);
    * `jaccard_dist` = 1 - estimate for parity with the distance convention.
    */
  def minhashPairs(df: DataFrame, textCol: String = "text", n: Int = 3,
                   threshold: Double = 0.5, bands: Int = 12,
                   rowsPerBand: Int = 3, seed: Long = 42L): DataFrame = {
    val k = bands * rowsPerBand
    val sig = signatures(df, textCol, n, k, seed).cache()
    // the band join carries ids only — signatures re-attach after the
    // distinct so the dedup shuffle rows stay 16 bytes wide
    val banded = bandKeys(sig, bands, rowsPerBand)
    val a = banded.select(col("id").as("idA"), col("band"), col("band_key"))
    val b = banded.select(col("id").as("idB"), col("band"), col("band_key"))
    val pairs = a.join(b, Seq("band", "band_key"))
      .where(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    releasing(sig) {
      pairs
        .join(sig.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
        .join(sig.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
        .withColumn("jaccard_est",
          size(filter(zip_with(col("sigA"), col("sigB"), (x, y) => x === y),
            v => v)).cast("double") / k)
        .where(col("jaccard_est") >= threshold)
        .select(col("idA"), col("idB"),
          (lit(1.0) - col("jaccard_est")).as("jaccard_dist"))
    }
  }

  /** (id, sig) MinHash signature frame; docs with zero shingles (null or
    * empty text) are dropped — they have no similarity surface.
    *
    * The k min-hashes run in one tight JVM loop per document. Spark
    * higher-order lambdas evaluate *interpreted* (~µs per element-op),
    * which makes a nested k×|shingles| Column-level formulation ~100×
    * slower than this UDF (measured: 144s vs <2s for the signature stage
    * at sf0.1). The stage is a narrow map, so losing codegen costs
    * nothing. */
  private[graft] def signatures(df: DataFrame, textCol: String, n: Int,
                                k: Int, seed: Long): DataFrame = {
    val sh = df.select(col("doc_id").as("id"), shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
    val sigUdf = udf { (shingles: Seq[String]) => Dedup.signature(shingles, k, seed) }
    sh.select(col("id"), sigUdf(col("sh")).as("sig"))
  }

  /** Banded LSH keys from a signature frame: (id, band, band_key) — one
    * 8-byte xxhash64 per band over its rowsPerBand signature slice. Two
    * docs collide on a band iff that slice matches exactly (the AND over
    * rows); any shared band makes a candidate (the OR over bands). */
  private[graft] def bandKeys(sig: DataFrame, bands: Int,
                              rowsPerBand: Int): DataFrame =
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(slice(col("sig"), j * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** k MinHash values for a shingle set: FNV-1a 64 base hash per shingle,
    * k derived values via splitmix64-style mixing, minimum per function.
    * Deterministic across JVMs (no object hashing involved). */
  private[llm] def signature(shingles: Seq[String], k: Int, seed: Long): Array[Long] = {
    val base = shingles.map { s =>
      var h = 0xcbf29ce484222325L ^ seed
      val bytes = s.getBytes("UTF-8")
      var i = 0
      while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
      h
    }.toArray
    val out = Array.fill(k)(Long.MaxValue)
    var f = 0
    while (f < k) {
      val fmix = f * 0x9E3779B97F4A7C15L
      var j = 0
      while (j < base.length) {
        var z = base(j) + fmix
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        if (z < out(f)) out(f) = z
        j += 1
      }
      f += 1
    }
    out
  }

  /** 64-bit SimHash signature per document: per-token 64-bit hash, each bit
    * votes ±1, sign of the vote sum.
    *
    * The token hash is the first 8 bytes of md5 (hex chars 1-8 = the high
    * 32 bits, 9-16 = the low 32), and the signature is emitted as two
    * unsigned-32-bit halves (`sig_hi` = bits 32..63, `sig_lo` = bits 0..31).
    * Both choices are for cross-engine reproducibility: any SQL engine can
    * recompute the exact signature from `md5()` + integer bit ops with no
    * signed-overflow hazard, which is what lets `dd_simhash` be a fully
    * value-checked oracle query rather than a rows-only one. One tight JVM
    * loop per document (HOF lambdas evaluate interpreted — see shingles). */
  def simhash(df: DataFrame, textCol: String = "text"): DataFrame = {
    val sig = udf { (toks: Seq[String]) =>
      if (toks == null) null
      else {
        val votes = new Array[Int](64)
        val mdig = java.security.MessageDigest.getInstance("MD5")
        toks.foreach { t =>
          val d = mdig.digest(t.getBytes("UTF-8"))
          val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          var b = 0
          while (b < 32) {
            if (((lo >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
          while (b < 64) {
            if (((hi >>> (b - 32)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
          mdig.reset()
        }
        var lo = 0L; var hi = 0L; var b = 0
        while (b < 32) { if (votes(b) > 0) lo |= (1L << b); b += 1 }
        while (b < 64) { if (votes(b) > 0) hi |= (1L << (b - 32)); b += 1 }
        (hi, lo)
      }
    }
    df.select(col("doc_id"), sig(TextAnalysis.tokens(col(textCol))).as("s"))
      .select(col("doc_id"), col("s._1").as("sig_hi"), col("s._2").as("sig_lo"))
  }

  /** SimHash near-dup pairs via banding: split the 64-bit signature into
    * `bands` equal slices and equi-join on (band index, band value) — any
    * pair within Hamming distance < bands shares ≥1 band (pigeonhole), so
    * recall is exact only when `maxHamming <= bands - 1`; the `require`
    * refuses configurations that would silently under-report near-dups
    * (a pair at distance `bands` can differ in every band). */
  def simhashPairs(df: DataFrame, textCol: String = "text",
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"banding recall guarantee needs maxHamming < bands; got maxHamming=$maxHamming, bands=$bands")
    require(bands >= 2 && bands <= 64 && 64 % bands == 0,
      s"bands must divide the 64-bit signature evenly (and be >= 2); got $bands")
    val bits = 64 / bands // bands >= 2 ⇒ bits <= 32 ⇒ no band straddles the halves
    val sigs = simhash(df, textCol).cache()
    // bands is a plan-time constant, so the band array is built statically
    // (shiftrightunsigned requires a literal shift amount).
    val bandVals = (0 until bands).map { i =>
      val off = i * bits
      val src = if (off < 32) shiftrightunsigned(col("sig_lo"), off)
                else shiftrightunsigned(col("sig_hi"), off - 32)
      src.bitwiseAND(lit((1L << bits) - 1))
    }
    val banded = sigs.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      posexplode(array(bandVals: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val a = banded.select(col("doc_id").as("idA"), col("sig_hi").as("hiA"),
      col("sig_lo").as("loA"), col("band"), col("band_val"))
    val b = banded.select(col("doc_id").as("idB"), col("sig_hi").as("hiB"),
      col("sig_lo").as("loB"), col("band"), col("band_val"))
    releasing(sigs) {
      a.join(b, Seq("band", "band_val"))
        .where(col("idA") < col("idB"))
        .select(col("idA"), col("idB"),
          (bit_count(col("hiA").bitwiseXOR(col("hiB"))) +
            bit_count(col("loA").bitwiseXOR(col("loB")))).as("hamming"))
        .distinct()
        .where(col("hamming") <= maxHamming)
    }
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph, labeling every member with the smallest doc_id reachable
    * from it. Pairwise dedup alone under-deletes: a chain a~b, b~c is one
    * duplicate cluster even though (a,c) never scored above threshold —
    * keeping per-pair survivors would retain two of the three.
    *
    * Implementation: iterative min-label propagation over the edge list
    * (label(v) ← min(label(v), min of neighbors' labels)) with a
    * POINTER-DOUBLING shortcut each round (label(v) ← label(label(v)) —
    * valid because labels are always node ids, so every label has its own
    * label row). Neighbor-min alone needs diameter rounds — O(n) on an
    * adversarial chain; the shortcut doubles the propagation distance per
    * round, giving O(log n) rounds worst case, the textbook distributed-CC
    * bound. Real near-dup graphs (pairs, triangles, short chains) still
    * close in 1-2 rounds. Each round is two small shuffles over
    * (id, label) longs; frames are localCheckpoint'd per round to truncate
    * the growing lineage — without that, round k re-executes rounds
    * 1..k-1 — and a round's input labels and neighbour-min frame are
    * released once its step is materialized, so at most four frames are
    * pinned at once, whatever the round count; only the final labels
    * outlive the call ([[graft.Sweep.drop]] or the ContextCleaner frees
    * them). Convergence = no label sank below its round-start `old`
    * value, counted with a scan of the already-checkpointed round result
    * — no extra join. */
  def dupClusters(pairs: DataFrame, idA: String = "idA", idB: String = "idB"): DataFrame =
    dupClustersCounted(pairs, idA, idB)._1

  /** [[dupClusters]] plus the number of propagation rounds it ran — the
    * observable graft.ScaleProbe bounds (rounds must grow ~log of the
    * longest chain while the per-round work grows ~linearly in edges;
    * a rounds blow-up is the iterative operator's quadratic signature). */
  private[graft] def dupClustersCounted(pairs: DataFrame, idA: String = "idA",
                                        idB: String = "idB"): (DataFrame, Int) = graft.Sweep.pinned { pin =>
    val edges = pin(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint())
    var labels = pin(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint())
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val nbrMin = pin(edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("nc")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("nc").as("min_nbr"))
        .join(labels, Seq("id"))
        .select(col("id"), least(col("cluster"), col("min_nbr")).as("cluster"),
          col("cluster").as("old"))
        .localCheckpoint())
      val ptr = nbrMin.select(col("id").as("__pid"), col("cluster").as("__pcluster"))
      val step = pin(nbrMin
        .join(ptr, col("cluster") === col("__pid"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("__pcluster"), col("cluster")))
            .as("cluster"),
          col("old"))
        .localCheckpoint())
      changed = step.where(col("cluster") < col("old")).count()
      // step is materialized (the checkpoint is eager) — the round's
      // input labels and its nbrMin are dead weight now
      pin.release(nbrMin)
      pin.release(labels)
      labels = step
    }
    // the final round's checkpoint stays live behind the returned frame
    // (callers memoize/checkpoint it); the scope releases the edges
    (pin.keep(labels).select(col("id").as("doc_id"), col("cluster").as("cluster_id")), rounds)
  }

  /** Priority-aware survivor selection: keep the best member of each
    * duplicate cluster by `priorityCol` (ties broken by lowest id), and
    * every document outside any cluster. The real-pipeline refinement of
    * min-id canonicalization — curation keeps the *longest* or
    * *highest-quality* duplicate, not an arbitrary one.
    *
    * Scale shape: only cluster MEMBERS enter the per-cluster argmax
    * window — at 100 TB the duplicate set is a small fraction of the
    * corpus, so the window's exchange carries members only, never the
    * whole corpus; non-members pass through via an anti-join on the id
    * (the same shape dd_survivors uses). */
  def survivorsByPriority(docs: DataFrame, clusters: DataFrame,
                          priorityCol: String,
                          idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = docs.join(clusters, Seq(idCol))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(priorityCol).desc, col(idCol).asc)
    val best = members.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "cluster_id")
    docs.join(clusters.select(idCol), Seq(idCol), "left_anti")
      .unionByName(best)
  }

  /** Per-document novelty: the fraction of a document's distinct
    * n-token shingles FIRST introduced by that document, where the
    * "owner" of a shingle is the lowest doc_id containing it. A doc full
    * of already-seen shingles scores near 0, fresh content near 1 — the
    * contribution signal dedup-aware sampling ranks by (keep documents
    * that add content, down-weight recombinations of existing text).
    *
    * Scale shape: explode-once into 8-byte shingle hashes, one partial-
    * combining agg for the owner table, one equi-join back, one per-doc
    * agg — the boilerplateStats shape, linear in total shingles, never
    * all-pairs. */
  def noveltyScores(docs: DataFrame, n: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val ex = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("__sh"))
      .select(col(idCol), xxhash64(col("__sh")).as("__h"))
    val owner = ex.groupBy("__h").agg(min(col(idCol)).as("__owner"))
    ex.join(owner, Seq("__h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__owner") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double")
          / col("n_shingles").cast("double"), 6))
  }

  /** Cross-source containment report: for every ordered source pair
    * (from, to) — the diagonal included — the fraction of `to`'s
    * documents that near-duplicate at least one document of `from`,
    * given a precomputed near-dup pair set (threshold already applied by
    * the caller, e.g. `jaccardPairs(...).where(jaccard >= t)`). The
    * question a corpus mix answers before weighting sources: how much of
    * B is already in A, and how internally duplicated is each source.
    *
    * Scale shape: the pair set is linear in near-dups (banded/equi-join
    * upstream, never all-pairs); attaching sources is two id equi-joins;
    * the only cross product is sources × per-source totals — two
    * already-aggregated frames of |sources| rows each, a broadcast-sized
    * report frame even with thousands of sources. */
  def crossSourceContainment(docs: DataFrame, pairs: DataFrame,
                             srcCol: String = "source",
                             idCol: String = "doc_id"): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    // symmetric edges: a "partner" row per direction
    val edges = pairs.select(col("idA").as("__a"), col("idB").as("__b"))
      .unionByName(pairs.select(col("idB").as("__a"), col("idA").as("__b")))
    val dup = edges
      .join(src.select(col("__id").as("__a"), col("__src").as("source_from")),
        Seq("__a"))
      .join(src.select(col("__id").as("__b"), col("__src").as("source_to")),
        Seq("__b"))
      .select("source_from", "source_to", "__b").distinct()
      .groupBy("source_from", "source_to").agg(count(lit(1)).as("__dup"))
    val totals = docs.groupBy(col(srcCol).as("source_to"))
      .agg(count(lit(1)).as("n_docs"))
    docs.select(col(srcCol).as("source_from")).distinct()
      .crossJoin(totals)
      .join(dup, Seq("source_from", "source_to"), "left")
      .select(col("source_from"), col("source_to"), col("n_docs"),
        coalesce(col("__dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("__dup"), lit(0L)).cast("double")
          / col("n_docs").cast("double"), 6).as("containment"))
  }

  /** Decontamination: drop every corpus document whose shingle-Jaccard
    * against ANY benchmark document reaches `threshold` (the standard
    * held-out-eval hygiene step for a training corpus). Returns the
    * surviving corpus rows.
    *
    * Scale shape: the corpus side is exploded once and joined to the
    * benchmark's exploded shingles — an eval benchmark is tiny relative to
    * a 100 TB corpus, so by default its shingle table BROADCASTS and the
    * whole contamination check runs map-side at scan speed; only candidate
    * (corpus, benchmark) pairs with a shared shingle reach the Jaccard
    * aggregation. A benchmark member present in the corpus matches itself
    * at J=1 and drops — exactly the desired semantics. Pass
    * `broadcastBenchmark = false` when the "benchmark" is another large
    * corpus (cross-corpus decontamination): the same equi-join then runs
    * as a shuffled hash join on the 8-byte shingle key, the jaccardPairs
    * shape. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", n: Int = 3,
                    threshold: Double = 0.5,
                    broadcastBenchmark: Boolean = true): DataFrame =
    corpus.join(
      contaminatedIds(corpus, benchmark, textCol, n, threshold, broadcastBenchmark),
      Seq("doc_id"), "left_anti")

  /** Exact contamination check shared by [[decontaminate]] and
    * [[decontaminateBloom]]: doc_ids of `corpus` rows with a >= threshold
    * shingle-Jaccard match in `benchmark`. */
  private def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                              textCol: String, n: Int, threshold: Double,
                              broadcastBenchmark: Boolean): DataFrame = {
    def shingled(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs), shingles(col(textCol), n).as("sh"))
        .withColumn("n_sh", size(col("sh")))
        .select(col(idAs), col("n_sh"), explode(col("sh")).as("s"))
        .select(col(idAs), col("n_sh"), xxhash64(col("s")).as("shingle"))
    val c = shingled(corpus, "cid").withColumnRenamed("n_sh", "nC")
    val b0 = shingled(benchmark, "bid").withColumnRenamed("n_sh", "nB")
    val b = if (broadcastBenchmark) broadcast(b0) else b0
    c.join(b, Seq("shingle"))
      .groupBy("cid", "bid", "nC", "nB").agg(count(lit(1)).as("shared"))
      .where(col("shared").cast("double") / (col("nC") + col("nB") - col("shared"))
        >= threshold)
      .select(col("cid").as("doc_id")).distinct()
  }

  /** Decontamination for a LARGE benchmark — when the benchmark's shingle
    * rows are too big to broadcast as a join side, a Bloom filter over
    * them (a few MB however many shingles) still travels to every task.
    * Two phases:
    * 1. map-side Bloom screen: a corpus doc is *suspect* iff any of its
    *    shingles might be in the benchmark. Bloom filters have NO false
    *    negatives, so an unsuspected doc provably shares zero shingles
    *    (Jaccard 0) and never reaches a shuffle — at a realistic
    *    contamination rate that's almost the whole corpus;
    * 2. the exact shingle join of [[decontaminate]] runs over the suspects
    *    only, discarding the Bloom's false positives.
    * The result is therefore IDENTICAL to [[decontaminate]] — the Bloom
    * changes the plan, never the answer — letting the full-value oracle
    * apply. `expectedShingles`/`fpp` size the filter (1% fpp ≈ 9.6
    * bits/shingle); an undersized filter degrades to more suspects, not
    * to wrong output. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String = "text", n: Int = 3,
                         threshold: Double = 0.5,
                         expectedShingles: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val bf = benchmark.select(explode(shingles(col(textCol), n)).as("s"))
      .stat.bloomFilter("s", expectedShingles, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val anyHit = udf { (sh: Seq[String]) =>
      sh != null && sh.exists(bfB.value.mightContainString)
    }
    // plain scan-side filter — no join; the suspect set re-shingles inside
    // the exact check, trading one narrow recompute for zero exchanges here
    val suspects = corpus.where(anyHit(shingles(col(textCol), n)))
    corpus.join(
      contaminatedIds(suspects, benchmark, textCol, n, threshold,
        broadcastBenchmark = false),
      Seq("doc_id"), "left_anti")
  }

  /** Cross-document boilerplate statistics: word n-grams shared by at
    * least `minDf` distinct documents (headers, footers, license blurbs,
    * templated spans — the spans line-level dedup removes from a crawl).
    * Per document: distinct n-gram count, how many are corpus-boilerplate,
    * and the boilerplate fraction — the gating signal a curation pipeline
    * thresholds on.
    *
    * Scale shape: explode each doc's DISTINCT n-grams (so a gram's row
    * count IS its document frequency), aggregate document frequency on the
    * gram's 8-byte xxhash64 (fixed-width shuffle key, same rationale as
    * [[jaccardPairs]]), and equi-join the hot set back. The hot-gram set is
    * small by construction (high-df grams only), so AQE broadcasts the
    * join-back at scale; nothing here is ever all-pairs. */
  def boilerplateStats(df: DataFrame, textCol: String = "text", n: Int = 3,
                       minDf: Int = 3): DataFrame = {
    // shingles() yields >= 1 element for any text WITH tokens (short docs
    // collapse to one whole-doc gram) and an empty array for empty/
    // whitespace-only text — so a doc appears in the report iff it has a
    // gram surface at all, the same rule the SQL oracle's list_distinct
    // applies. Null text is coalesced to '' (same convention as
    // DocStreams.dedupBatchAgainstStore) purely so the explode sees a
    // typed empty set rather than NULL.
    val ex = df.select(col("doc_id"),
        explode(shingles(coalesce(col(textCol), lit("")), n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .cache() // read three times: doc totals, gram df, hot join-back
    val perDoc = ex.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hot = ex.groupBy("gh").agg(count(lit(1)).as("gdf"))
      .where(col("gdf") >= minDf)
    val bp = ex.join(hot.select("gh"), Seq("gh"))
      .groupBy("doc_id").agg(count(lit(1)).as("bp_grams"))
    releasing(ex) {
      perDoc.join(bp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("bp_grams"), lit(0L)).as("bp_grams"),
          round(coalesce(col("bp_grams"), lit(0L)).cast("double")
            / greatest(col("n_grams"), lit(1L)).cast("double"), 6).as("bp_frac"))
    }
  }

  /** All k-token windows of a token array, position order, one entry per
    * position (NOT distinct — position identity is the point). Same tight
    * JVM loop rationale as [[shingles]]; fewer than k tokens → empty. */
  private val windowsUdf = udf { (toks: Seq[String], k: Int) =>
    if (toks == null) null
    else if (toks.length < k) Seq.empty[String]
    else {
      val out = new Array[String](toks.length - k + 1)
      var i = 0
      while (i + k <= toks.length) {
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < i + k) { if (j > i) sb.append(' '); sb.append(toks(j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out.toSeq
    }
  }

  /** Exact duplicated-substring spans ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022 — the suffix-array substring
    * dedup, re-expressed relationally): a position is duplicated iff its
    * k-token window occurs `minDf`+ times corpus-wide (any document, any
    * position — a doc repeating itself counts); runs of consecutive
    * duplicated positions merge into maximal spans. Returns one row per
    * span: (doc_id, span_start, span_len, n_windows), token units — the
    * ranges a substring-level cut pass would remove.
    *
    * Scale shape vs the suffix-array original: a suffix array is a global
    * sorted structure (hostile to a shared-nothing engine); window hashing
    * gives the same ≥k-token-repeat detection as two shuffles keyed on an
    * 8-byte xxhash64 — (1) window frequency aggregate with map-side
    * partial counts, (2) hot-set equi-join back (AQE broadcasts it when
    * the duplicated fraction is small, the normal regime). Window TEXT
    * never shuffles — only (doc_id, pos, hash). The island merge windows
    * only over duplicated positions per doc, a small fraction of the
    * corpus by construction. */
  def dupSpans(df: DataFrame, textCol: String = "text", k: Int = 8,
               minDf: Int = 2): DataFrame = {
    require(k >= 2, s"window must span >= 2 tokens; got $k")
    require(minDf >= 2, s"minDf < 2 would mark every position; got $minDf")
    import org.apache.spark.sql.expressions.Window
    val wins = df
      .select(col("doc_id"), posexplode(
        windowsUdf(TextAnalysis.tokens(col(textCol)), lit(k))))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("wh"))
    val hot = wins.groupBy("wh").agg(count(lit(1)).as("wdf"))
      .where(col("wdf") >= minDf).select("wh")
    val dup = wins.join(hot, Seq("wh")).select("doc_id", "pos")
    dup
      .withColumn("isl", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + lit(k)).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_len", "n_windows")
  }

  /** One pass over a token array removing positions covered by any span;
    * spans are (start, len) structs. Spans can OVERLAP in token space —
    * dupSpans merges islands of duplicated WINDOW positions, and two
    * islands separated by 1..k-2 window positions still cover overlapping
    * token ranges (e.g. duplicated windows at pos 0 and 2 with k=8 give
    * spans [0,8) and [2,10)) — so both the cut and the removed count work
    * off the boolean covered array: n_removed is the size of the UNION of
    * covered positions, never the sum of span lengths (which would
    * double-count the overlap). Returns (clean_text, n_removed). */
  private val cutUdf = udf { (toks: Seq[String], spans: Seq[org.apache.spark.sql.Row]) =>
    if (toks == null) (null: String, 0L)
    else if (spans == null || spans.isEmpty) (toks.mkString(" "), 0L)
    else {
      val covered = new Array[Boolean](toks.length)
      spans.foreach { r =>
        val s = r.getInt(0)
        val e = math.min(s + r.getInt(1), toks.length)
        var i = s
        while (i < e) { covered(i) = true; i += 1 }
      }
      val sb = new java.lang.StringBuilder
      var removed = 0L
      var i = 0
      while (i < toks.length) {
        if (!covered(i)) {
          if (sb.length > 0) sb.append(' ')
          sb.append(toks(i))
        } else removed += 1L
        i += 1
      }
      (sb.toString, removed)
    }
  }

  /** Apply the substring cut (the action [[dupSpans]] reports): every
    * token position covered by a duplicated span is removed and the
    * surviving tokens reassemble in order. Output is the cleaned TOKEN
    * stream (lowercased, single-spaced — the training-relevant view, not
    * a byte-faithful rewrite of the original text); a fully-duplicated
    * document cleans to the empty string, a null text stays null.
    * Returns (doc_id, clean_text, n_removed) with n_removed the count of
    * TOKENS actually removed (union of covered positions — token-
    * overlapping spans don't double-count; see cutUdf).
    *
    * Scale shape: [[dupSpans]]'s two hash-keyed shuffles, plus one
    * spans-per-doc aggregate (tiny — only docs WITH spans) joined back to
    * a single projection pass over the corpus. The cut itself is one JVM
    * loop per row. */
  def stripDupSpans(df: DataFrame, textCol: String = "text", k: Int = 8,
                    minDf: Int = 2): DataFrame = {
    val perDoc = dupSpans(df, textCol, k, minDf)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("spans"))
    df.select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__cut", cutUdf(col("toks"), col("spans")))
      .select(col("doc_id"),
        col("__cut._1").as("clean_text"),
        col("__cut._2").as("n_removed"))
  }

  /** SemDeDup-style semantic near-dup pairs: cluster the embeddings with
    * seeded KMeans (the learned "semantic bucket"), then run the exact
    * cosine comparison only within a cluster — [[cosinePairs]] with a
    * learned block key instead of a caller-supplied one. On clustered
    * corpora (the regime semantic dedup targets) near-identical documents
    * land in the same cell and recall approaches 1 while the pair space
    * shrinks by ~nCells; on unclustered noise recall degrades toward
    * 1/nCells — the documented SemDeDup trade, property-tested both ways
    * in DedupSpec and bounded against the exact baseline by the
    * dd_semantic contract. Centroid fit is one pass over a sample; the
    * per-pair work is the codegen cosine kernel. Emitted cosines are
    * exact (recomputed, not estimated), so emitted pairs are always a
    * subset of the exact-threshold pair set. */
  def semanticPairs(df: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", nCells: Int = 8,
                    threshold: Double = 0.3, seed: Long = 42L,
                    maxIter: Int = 5, fitSampleCap: Long = 10000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Ann.cosineUsable: a NULL vector NPEs array_to_vector and a zero
    // vector's NaN cosine would survive the >= threshold filter under
    // Spark's NaN-is-greatest semantics — neither has a similarity surface
    val v = df.where(Ann.cosineUsable(col(vecCol)))
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("arr"))
      .withColumn("mlv", array_to_vector(col("arr")))
    // the KMeans FIT input is bounded (same guard as Ann.fitCentroids):
    // maxIter Lloyd scans over the whole corpus is the shape that cannot
    // survive 100×, and the cells only block — a sampled fit shifts
    // centroids, not pair correctness (emitted cosines are exact either
    // way). Below the cap the fit reads the corpus exactly as before, so
    // fixture-scale pairs are bit-identical. ASSIGNMENT (km.transform)
    // still runs over every row — that part is map-side and must.
    val n = v.count()
    val fitInput =
      if (n <= fitSampleCap) v
      else {
        val keepOneIn = math.max(2L, (n + fitSampleCap - 1) / fitSampleCap)
        v.where(pmod(xxhash64(col("arr"), lit(seed)), lit(keepOneIn)) === 0)
          .repartition(8)
      }
    // random init + few Lloyd iterations: the cells are a BLOCKING key, so
    // partition quality (not convergence) is what matters — k-means|| init
    // plus the default 20 iterations costs 4× more fit time (the
    // kmeans_fit span) for no recall gain on either fixture regime
    val km = graft.obs.span("kmeans_fit") {
      new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
        .setInitMode("random").setFeaturesCol("mlv")
        .setPredictionCol("cell").fit(fitInput)
    }
    cosinePairs(km.transform(v), idCol, "arr", col("cell"), threshold)
  }

  /** Embedding-cosine near-dup over unit-normalized vectors, blocked by a
    * caller-supplied key (e.g. an LSH bucket or coarse quantization) so the
    * pair space is bounded. Vectors are cast to double before arithmetic so
    * results are engine-reproducible. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  blockKey: Column, threshold: Double): DataFrame = {
    val v = df.where(Ann.cosineUsable(col(vecCol)))
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"),
        blockKey.as("blk"))
    val a = v.select(col("id").as("idA"), col("v").as("vA"), col("blk"))
    val b = v.select(col("id").as("idB"), col("v").as("vB"), col("blk"))
    a.join(b, Seq("blk")).where(col("idA") < col("idB"))
      // codegen kernel — the interpreted HOF form costs ~3·dim closure
      // calls per candidate pair (see graft.functions.CosineSim)
      .withColumn("cosine",
        graft.functions.CosineSim.cosine_sim(col("vA"), col("vB")))
      .where(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }

  /** Consecutive `segTokens`-token segments of a token array, in order —
    * the deterministic segmenter behind [[segmentDedup]]. The fixture
    * corpus carries no line structure, so segmentation is positional; on
    * real documents the same operator runs with a newline/paragraph split
    * feeding it. Tight JVM loop for the same reason as [[shingles]]: the
    * higher-order-function Column form evaluates interpreted per token. */
  private val segmentUdf = udf { (toks: Seq[String], k: Int) =>
    if (toks == null) null
    else toks.grouped(k).map(_.mkString(" ")).toSeq
  }

  /** Segment-level exact dedup (the line/paragraph-dedup pass of
    * RefinedWeb-style curation): split each document into consecutive
    * `segTokens`-token segments, drop every segment whose exact text
    * already occurred earlier in the corpus (first occurrence by
    * (doc_id, segment index) survives), and reassemble each document from
    * its surviving segments in order. Returns one row per input document:
    * `(doc_id, clean_text, n_dropped)` — a fully-duplicated document
    * collapses to `clean_text = ''`.
    *
    * Scale shape: one shuffle keyed on the segment text for the
    * first-occurrence window, one keyed on doc_id for the reassembly —
    * both linear. The window partitions by the segment STRING; at real
    * scale the key would be a 128-bit content hash to keep the exchange
    * narrow (not done here so the full-value oracle shares the engine's
    * exact grouping with no collision caveat). Duplicated segments are by
    * definition the hot keys, but a group's size is the duplication count
    * of one segment — the sort inside each window group is tiny, and the
    * standard salt-then-min two-phase applies if a segment dominates. */
  def segmentDedup(df: DataFrame, textCol: String = "text",
                   segTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = df
      .where(col(textCol).isNotNull)
      .select(col("doc_id"),
        posexplode(segmentUdf(TextAnalysis.tokens(col(textCol)), lit(segTokens)))
          .as(Seq("seg_idx", "seg_text")))
    val w = Window.partitionBy("seg_text").orderBy(col("doc_id"), col("seg_idx"))
    val ranked = segs.withColumn("rk", row_number().over(w))
    val perDoc = ranked.groupBy("doc_id").agg(
      // ordered reassembly without a sort shuffle: collect (idx, text)
      // structs, array_sort on the leading idx field, strip to text
      concat_ws(" ",
        transform(array_sort(collect_list(
          when(col("rk") === 1, struct(col("seg_idx"), col("seg_text"))))),
          s => s.getField("seg_text"))).as("clean_text"),
      count(when(col("rk") > 1, lit(1))).as("n_dropped"))
    // empty/token-less docs never reach the explode — restore them with
    // empty surviving text so the output is one row per input document
    df.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Embedding-space decontamination (the semantic analogue of
    * [[decontaminate]]'s shingle overlap): flag every corpus vector whose
    * cosine against ANY benchmark vector reaches `threshold` — the
    * published guard against paraphrased eval contamination that exact
    * n-gram matching misses (same kernel family as SemDeDup).
    *
    * Returns `(vec_id, n_hits, max_cosine)` for contaminated vectors only;
    * cosines are rounded to 6 dp BEFORE thresholding and aggregation (same
    * boundary-parity rationale as [[graft.llm.Ann.rangeSearch]]).
    *
    * Scale shape: the benchmark side broadcasts (eval suites are small by
    * definition — same standing assumption as `decontaminate`), so the
    * corpus is screened map-side at scan speed through the codegen cosine
    * kernel, and the per-vector max/count aggregate is partial before its
    * one narrow shuffle keyed on vec_id. Never a corpus×corpus join. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val c = corpus.where(Ann.cosineUsable(col(vecCol)))
      .select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))
    val b = benchmark.where(Ann.cosineUsable(col(vecCol)))
      .select(col(idCol).as("bench_id"),
        transform(col(vecCol), x => x.cast("double")).as("bv"))
    c.join(broadcast(b), col("vec_id") =!= col("bench_id"))
      .withColumn("cosine",
        round(graft.functions.CosineSim.cosine_sim(col("cv"), col("bv")), 6))
      .where(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max(col("cosine")).as("max_cosine"))
  }
}
