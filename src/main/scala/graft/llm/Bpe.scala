package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training and encoding — the
  * "fit a tokenizer on the corpus you are about to train on" step of an
  * LLM data pipeline (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units").
  *
  * Scale design: the fit iterates over the WORD-TYPE table (distinct
  * words + corpus frequencies), never the token stream. By Heaps' law the
  * type table is sublinear in corpus size (~N^0.5), so at 100 TB the
  * iteration state is millions of rows while the corpus is trillions of
  * tokens; one corpus-wide shuffle (the word count, partial-combined on
  * the word key) builds it, and the standard frequency truncation to the
  * top `topTypes` types — a distributed TakeOrdered, no full sort —
  * bounds every iteration after that. Each merge iteration is then an
  * explode + map-side-combined pair-count over the bounded type table and
  * a one-row argmax collect; merge application is a narrow map. Encoding
  * runs the same trick in reverse: encode each distinct word ONCE and
  * equi-join the token stream back to the type-level result (AQE
  * broadcasts the type side when it is small), so the per-token cost of
  * the greedy merge loop is paid |V| times, not |corpus| times.
  */
object Bpe {

  /** End-of-word marker appended as a standalone symbol, so merges can
    * learn word-final units ("est&lt;/w&gt;") distinct from word-internal
    * ones — the original BPE formulation. */
  val EndMark = "</w>"

  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Word-type table: (word, freq), truncated to the `topTypes` most
    * frequent types with a deterministic tie-break (freq desc, word asc).
    * Words are the engine's standard lowercase alnum runs
    * ([[TextAnalysis.tokens]]), so fit/encode agree with every other text
    * operator on what a "word" is.
    *
    * The truncation is an EXPLICIT, tested part of the fit contract, not
    * an accident of scale: pair statistics come from the `topTypes` most
    * frequent types only (the standard frequency cutoff every practical
    * BPE trainer applies). When the corpus has fewer types than the cap —
    * the fixture regime — the cutoff is a no-op and learned merges are
    * invariant to `topTypes` (pinned by BpeSpec); when it binds, raising
    * `topTypes` is the knob, and the default (64k types) is sized for a
    * real 30k+ merge vocabulary, not a toy. */
  def wordTypes(df: DataFrame, textCol: String = "text",
                topTypes: Int = 65536): DataFrame = {
    require(topTypes >= 1, s"topTypes must be >= 1; got $topTypes")
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(topTypes)
  }

  /** One left-to-right non-overlapping pass replacing adjacent (l, r)
    * with the fused symbol — the apply step of a single learned merge. */
  def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Greedy rank-order encode of one word with a fitted merge table:
    * start from characters + [[EndMark]], repeatedly apply the
    * lowest-rank merge present until none applies. This is the standard
    * BPE inference loop; it also encodes words never seen at fit time. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString) :+ EndMark
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      var bl: String = null; var br: String = null
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else syms = mergeOnce(syms, bl, br)
    }
    syms
  }

  /** Fit `nMerges` BPE merges on the corpus. Returns the learned merge
    * table in rank order; deterministic (argmax tie-break: count desc,
    * left asc, right asc — mirrored by the DuckDB oracle). Stops early
    * when the best remaining pair occurs fewer than `minPairCount` times.
    *
    * The corpus-scale work — the word count and the frequency truncation
    * — is distributed; the merge loop then runs driver-local over the
    * collected type table, which is <= `topTypes` rows BY CONSTRUCTION
    * (same shape as the collected IVF centroid table: iterate locally on
    * state that is bounded, not corpus-sized). Chaining the iterations as
    * persisted DataFrames instead is a trap: each cached step nests the
    * previous step's physical plan inside its InMemoryRelation, and
    * plan-tree rendering blows up exponentially after a few dozen
    * nestings (observed as an explainString OOM at 32 merges).
    *
    * Pair statistics are maintained INCREMENTALLY (the standard fast-BPE
    * trainer shape, cf. Sennrich's learn_bpe): an inverted index maps
    * each pair to the word types containing it, so applying a merge
    * touches only the affected types and the argmax comes from an
    * ordered set in O(1) — a naive full recount per merge is
    * O(topTypes × avgLen) EVERY round and makes a real 30k-merge
    * vocabulary quadratic. The incremental counts equal the full recount
    * at every step (each rewrite retracts the word's old adjacent pairs
    * and adds the new ones), so learned merges are identical to the
    * naive reference — pinned by BpeSpec. */
  def fit(df: DataFrame, textCol: String = "text", nMerges: Int = 256,
          topTypes: Int = 65536, minPairCount: Long = 2L): Seq[Merge] =
    fitVerbose(df, textCol, nMerges, topTypes, minPairCount).merges

  /** [[fit]] plus the stop reason: `exhausted` is true iff the trainer
    * stopped because no remaining pair reaches `minPairCount` (so a
    * shorter-than-requested merge table is the corpus running dry, not a
    * truncated fit) — the boolean the tx_bpe_fit contract surfaces. */
  final case class FitResult(merges: Seq[Merge], exhausted: Boolean)

  def fitVerbose(df: DataFrame, textCol: String = "text", nMerges: Int = 256,
                 topTypes: Int = 65536, minPairCount: Long = 2L): FitResult = {
    require(nMerges >= 1, s"nMerges must be >= 1; got $nMerges")
    val rows = wordTypes(df, textCol, topTypes).collect()
    val words: Array[Array[String]] =
      rows.map(r => r.getString(0).map(_.toString).toArray :+ EndMark)
    val freqs: Array[Long] = rows.map(_.getLong(1))

    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    // inverted index pair -> word-type ids; a SUPERSET (stale entries are
    // filtered against the word's current symbols at use)
    val occurs =
      scala.collection.mutable.HashMap[(String, String),
        scala.collection.mutable.HashSet[Int]]()
    // argmax structure: ordered by (count desc, left asc, right asc) —
    // the oracle-replayed tie-break; entries are (count, l, r) snapshots
    // removed/re-added on every count change so the set order never lies
    val heap = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
          else {
            val c = a._2.compareTo(b._2)
            if (c != 0) c else a._3.compareTo(b._3)
          }
        }
      })
    def setCount(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old > 0L) heap.remove((old, p._1, p._2))
      val now = old + delta
      if (now > 0L) { counts(p) = now; heap.add((now, p._1, p._2)) }
      else counts.remove(p)
    }
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi); val f = freqs(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        setCount(p, f)
        occurs.getOrElseUpdate(p,
          scala.collection.mutable.HashSet[Int]()) += wi
        i += 1
      }
      wi += 1
    }

    def containsPair(s: Array[String], l: String, r: String): Boolean = {
      var i = 0; var found = false
      while (!found && i < s.length - 1) {
        if (s(i) == l && s(i + 1) == r) found = true
        i += 1
      }
      found
    }

    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      if (heap.isEmpty || heap.first()._1 < minPairCount) exhausted = true
      else {
        val (cnt, l, r) = heap.first()
        merges += Merge(merges.length, l, r, cnt)
        val affected = occurs.getOrElse((l, r),
          scala.collection.mutable.HashSet.empty[Int])
        for (w <- affected) {
          val syms = words(w)
          if (containsPair(syms, l, r)) {
            val f = freqs(w)
            var i = 0
            while (i < syms.length - 1) { setCount((syms(i), syms(i + 1)), -f); i += 1 }
            val ns = mergeOnce(syms.toIndexedSeq, l, r).toArray
            words(w) = ns
            var j = 0
            while (j < ns.length - 1) {
              val p = (ns(j), ns(j + 1))
              setCount(p, f)
              occurs.getOrElseUpdate(p,
                scala.collection.mutable.HashSet[Int]()) += w
              j += 1
            }
          }
        }
        occurs.remove((l, r))
      }
    }
    FitResult(merges.toSeq, exhausted)
  }

  /** Distributed-fallback fit for corpora whose TYPE count exceeds what
    * the driver can hold: the type table stays a DataFrame end to end (no
    * `topTypes` truncation, no collect), and each merge round is one
    * map-side-combined pair-count shuffle + a 1-row argmax + a narrow
    * rewrite of the affected arrays. Same tie-break as [[fit]] (count
    * desc, left asc, right asc — ASCII-safe because symbols are lowercase
    * alnum plus [[EndMark]]), so on any corpus where the driver trainer
    * CAN run uncapped, both learn identical merges (pinned by BpeSpec on
    * a >64k-type corpus).
    *
    * Cost: O(nMerges) jobs over the type table — the price of never
    * truncating. The capped incremental [[fit]] stays the default; this
    * is the explicit escape hatch when the Heaps'-law type table itself
    * outgrows `topTypes` AND the tail types must contribute to pair
    * statistics. Each round localCheckpoints the rewritten table: the
    * rewrite is one narrow map, and checkpointing stops the plan tree
    * from nesting round-over-round (the explainString blowup documented
    * on [[fit]]). */
  def fitDistributed(df: DataFrame, textCol: String = "text",
                     nMerges: Int = 256,
                     minPairCount: Long = 2L,
                     batchMerges: Int = 16): Seq[Merge] =
    fitDistributedVerbose(df, textCol, nMerges, minPairCount, batchMerges).merges

  /** Batched merge selection (`batchMerges` > 1, the default): each
    * aggregation round collects a sorted WINDOW of top pairs and accepts
    * a PREFIX of mutually independent merges instead of one — cutting
    * the number of Spark jobs by the average batch size while learning
    * EXACTLY the sequential merge sequence. The acceptance rule is
    * provable, not heuristic. A candidate `(l₂, r₂)` CONFLICTS with an
    * accepted merge `(l₁, r₁)` (fused `f₁ = l₁+r₁`) iff
    *
    *   r₂ = l₁  ∨  l₂ = r₁        (adjacency overlap: applying the
    *                               accepted merge consumes occurrences
    *                               of the candidate, or vice versa)
    *   ∨ l₂ = f₁ ∨ r₂ = f₁        (the candidate reads a symbol the
    *                               batch is about to create)
    *   ∨ f₂ ∈ fusedEver           (the candidate's own fused string
    *                               aliases a symbol that can exist —
    *                               initial symbols are single chars +
    *                               [[EndMark]], every other symbol is a
    *                               previous merge's fused string, so the
    *                               driver knows the complete universe)
    *
    * Note what is NOT a conflict: sharing a left symbol (`(b,a)` and
    * `(b,e)`) or a right symbol (`(b,a)` and `(k,a)`) — a `b` followed
    * by `a` is not followed by `e`, so those merges touch disjoint
    * occurrence sites and leave each other's counts untouched. The walk
    * accepts candidates in the sequential argmax's own total order
    * (count desc, left, right) and STOPS at the first conflict. Then a
    * strictness pass: let `gainBound` be the maximum count over (a) the
    * remaining window rows that conflict with the accepted set and (b)
    * the last window row when the window is full (the upper bound on
    * every unseen pair). Keep the accepted prefix with count >
    * `gainBound`; if that is empty keep the head alone (a singleton
    * batch IS one sequential step, so progress is always exact — this
    * also covers the head being an alias re-merge, which voids the gain
    * bound for later members and forces a singleton).
    *
    * Why this equals sequential selection, step by step at kept merge j:
    * the prefix's own counts are untouched (non-conflict, and a FRESH
    * fused symbol equals no existing symbol, so no prefix pair can gain);
    * seen non-conflicting rows keep their counts and their sort position
    * after the prefix — ties included, because the order compared is the
    * argmax's own; seen conflicting rows can only LOSE count (the gain
    * classes `(x, f)` / `(f, y)` are empty pre-merge for fresh `f`), so
    * they stay behind too; unseen rows are bounded by the full window's
    * last count and sort after it on ties; and every pair CREATED by an
    * accepted merge inherits at most the old count of a conflicting pair
    * (`(x, f_i)` comes from occurrences `x l_i r_i`, so ≤ old
    * `(x, l_i)`) — which is ≤ `gainBound` < the kept counts by the
    * strictness pass, tie-breaks included since strict. Pinned
    * empirically by BpeSpec: batched ≡ sequential merges with a
    * job-count listener showing the ≥5× job reduction. */
  def fitDistributedVerbose(df: DataFrame, textCol: String = "text",
                            nMerges: Int = 256,
                            minPairCount: Long = 2L,
                            batchMerges: Int = 16): FitResult = graft.Sweep.pinned { pin =>
    require(nMerges >= 1, s"nMerges must be >= 1; got $nMerges")
    require(batchMerges >= 1, s"batchMerges must be >= 1; got $batchMerges")
    val toSyms = udf((w: String) => w.map(_.toString) :+ EndMark)
    var types = pin(df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(toSyms(col("word")).as("syms"), col("freq"))
      .localCheckpoint())
    // adjacent symbol pairs; guarded because sequence(1, 0) DESCENDS in
    // Spark rather than yielding an empty array, and a fully-merged word
    // can collapse to a single symbol
    val pairsExpr = when(size(col("syms")) >= 2,
      expr("transform(sequence(1, size(syms) - 1)," +
        " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
      .otherwise(expr("array()"))
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    // every non-initial symbol ever created, batch-local additions
    // included — the alias check's complete universe (initial symbols
    // are single chars, length 1, which no length-≥2 fused string can
    // equal; EndMark contains '<', outside the alnum token alphabet)
    val fusedEver = scala.collection.mutable.HashSet[String]()
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      // window well past the batch cap so the unseen-pair proxy (the last
      // row's count) falls below the head tier on tie-heavy corpora
      val scanN = math.max(4 * batchMerges, 64)
      val window = types
        .select(explode(pairsExpr).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(scanN + 1).collect()
      if (window.isEmpty || window(0).getLong(2) < minPairCount) exhausted = true
      else {
        val leftSyms = scala.collection.mutable.HashSet[String]()
        val rightSyms = scala.collection.mutable.HashSet[String]()
        val fusedBatch = scala.collection.mutable.HashSet[String]()
        var accepted = Vector.empty[(String, String, Long)]
        // fused strings ADDED by this batch (rollback must never remove a
        // previous round's entry — the head's fused string may legally
        // re-form and already be present)
        val addedFused = scala.collection.mutable.HashSet[String]()
        var stopAt = -1 // window index of the first unacceptable row
        var headAlias = false
        def conflicts(l: String, r: String): Boolean =
          headAlias ||
            rightSyms.contains(l) || leftSyms.contains(r) || // adjacency overlap
            fusedBatch.contains(l) || fusedBatch.contains(r) || // reads a new symbol
            fusedEver.contains(l + r) // own fused string aliases
        var i = 0
        while (stopAt < 0 && i < window.length) {
          val (l, r, c) =
            (window(i).getString(0), window(i).getString(1), window(i).getLong(2))
          // the HEAD is always acceptable — a singleton batch IS one
          // sequential step, so the conflict/alias rules (which exist to
          // protect merges 2..k of a batch) never apply to it. But if the
          // head itself is an alias RE-merge (its fused string already
          // exists — a legally re-formed pair), pairs over that existing
          // symbol can gain count unboundedly when it applies, so the
          // gain bound for later batch members is void: headAlias forces
          // a singleton batch.
          if (i == 0) headAlias = fusedEver.contains(l + r)
          if (c < minPairCount || i == scanN || (i > 0 && conflicts(l, r)) ||
              accepted.length == math.min(batchMerges, nMerges - merges.length))
            stopAt = i
          else {
            accepted :+= ((l, r, c))
            leftSyms += l; rightSyms += r; fusedBatch += (l + r)
            if (fusedEver.add(l + r)) addedFused += (l + r)
            i += 1
          }
        }
        // strictness bound: the largest count an accepted merge's
        // application could hand to a NEW pair — the max over remaining
        // window rows that conflict with the accepted set, plus the last
        // row of a full window standing in for every unseen pair
        var gainBound = Long.MinValue
        if (stopAt >= 0) {
          var j = stopAt
          while (j < window.length) {
            val (l, r, c) =
              (window(j).getString(0), window(j).getString(1), window(j).getLong(2))
            if (conflicts(l, r) && c > gainBound) gainBound = c
            j += 1
          }
          if (window.length > scanN) // full window ⇒ unseen pairs exist
            gainBound = math.max(gainBound, window(scanN).getLong(2))
        }
        val kept0 = accepted.takeWhile(_._3 > gainBound) // counts desc ⇒ prefix
        val kept = if (kept0.nonEmpty) kept0 else accepted.take(1)
        // roll back batch-local alias state for merges not kept
        accepted.drop(kept.length)
          .foreach { case (l, r, _) => if (addedFused(l + r)) fusedEver -= (l + r) }
        kept.foreach { case (l, r, c) => merges += Merge(merges.length, l, r, c) }
        val batch = kept.map { case (l, r, _) => (l, r) }
        val applyU = udf((s: Seq[String]) =>
          batch.foldLeft(s)((acc, m) => mergeOnce(acc, m._1, m._2)))
        val next = pin(types.select(applyU(col("syms")).as("syms"), col("freq"))
          .localCheckpoint())
        pin.release(types)
        types = next
      }
    }
    FitResult(merges.toSeq, exhausted)
  }

  /** The fitted merge table as a DataFrame (rank, left, right,
    * pair_count) — nMerges rows, driver-local by construction. */
  def mergesDF(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right, m.pairCount))
      .toDF("rank", "left", "right", "pair_count")
  }

  /** Per-document BPE token counts under a fitted merge table:
    * (doc_id, n_words, n_chars, bpe_tokens). Every input document appears
    * exactly once (wordless documents count 0/0/0). The greedy encode
    * runs once per DISTINCT word; the corpus joins back on the word key. */
  def encodedTokenCounts(df: DataFrame, merges: Seq[Merge],
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val encU = udf((w: String) => encodeWord(w, bc.value).length)
    val ex = df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("word"))
    // type-level encode: |V| udf calls, not |corpus|; plain equi-join back
    // (AQE broadcasts the type side when it is small enough)
    val types = ex.select("word").distinct()
      .select(col("word"), encU(col("word")).as("n_sub"), length(col("word")).as("n_wchars"))
    val agg = ex.join(types, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum("n_wchars").cast("long").as("n_chars"),
        sum("n_sub").cast("long").as("bpe_tokens"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .na.fill(0, Seq("n_words", "n_chars", "bpe_tokens"))
  }
}
