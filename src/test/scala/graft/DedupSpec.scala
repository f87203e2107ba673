package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Dedup operators: exact, shingle-Jaccard, MinHash recall, SimHash. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "the quick brown fox jumps over a lazy dog today") // near dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup: duplicates collapse to min doc_id with counts") {
    val out = Dedup.exact(docs).as[(String, Long, Long)].collect()
      .map { case (_, keep, n) => keep -> n }.toMap
    assert(out(1L) == 2)  // docs 1+2 merged, keeper is min id
    assert(out(3L) == 1 && out(4L) == 1 && out(5L) == 1)
    assert(out.values.sum == 5)
  }

  test("shingles: hand-computed 3-gram set") {
    val sh = docs.where($"doc_id" === 4)
      .select(Dedup.shingles($"text", 3).as("sh")).as[Seq[String]].head().toSet
    assert(sh == Set("completely different content", "different content about",
      "content about spark", "about spark engines"))
  }

  test("null text rows survive shingling and language-ID (no NPE)") {
    val withNull = docs.unionByName(
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sh = withNull.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .where($"doc_id" === 99L).select("sh").as[Option[Seq[String]]].head()
    assert(sh.isEmpty) // propagates null like the Column formulation
    val lang = graft.llm.LangId.predict(withNull)
      .where($"doc_id" === 99L).select("lang_pred").as[Option[String]].head()
    assert(lang.isEmpty)
  }

  test("jaccardPairs: identical docs have J=1; near dups above threshold") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash recall: finds the high-Jaccard pairs the exact method finds") {
    val exact = Dedup.jaccardPairs(docs, threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val approx = Dedup.minhashPairs(docs, threshold = 0.5, bands = 16, rowsPerBand = 2)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.99, s"minhash recall $recall on exact=$exact approx=$approx")
  }

  test("simhash: identical texts get identical signatures; banding finds them") {
    val sigs = Dedup.simhash(docs).as[(Long, Long, Long)].collect()
      .map { case (id, hi, lo) => id -> ((hi, lo)) }.toMap
    assert(sigs(1L) == sigs(2L))
    // halves are unsigned 32-bit values (no signed-overflow hazard in SQL)
    sigs.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs refuses recall-lossy configs (maxHamming >= bands)") {
    // bands=4 can only guarantee recall for hamming <= 3: a pair at
    // distance 4 may differ in every 16-bit band and never collide
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 16, bands = 4)
    }
    intercept[IllegalArgumentException] { // 64 % bands != 0
      Dedup.simhashPairs(docs, maxHamming = 3, bands = 5)
    }
  }

  test("dupClusters: chains collapse to one cluster labeled by the min id") {
    // components: {1,2,3} (chain — (1,3) is NOT an edge), {10,11}, {20,21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("idA", "idB")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("dupClusters: a 64-node chain converges (pointer doubling, not diameter rounds)") {
    // path graph 0-1-2-...-63: diameter 63; neighbor-min alone would need
    // ~63 rounds, pointer doubling closes in O(log n)
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("idA", "idB")
    val out = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(out.length == 64 && out.forall(_._2 == 0L))
  }

  test("dupClustersCounted keeps only the returned labels' checkpoint pinned") {
    val chain = (0L until 31L).map(i => (i, i + 1)).toDF("idA", "idB")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, rounds) = Dedup.dupClustersCounted(chain)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(rounds >= 3, s"chain closed in $rounds rounds; the check needs several")
    assert(added.size <= 1, s"$rounds rounds left ${added.size} pinned RDDs: $added")
    // the one survivor is the checkpoint the returned frame reads
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
  }

  test("decontaminate: drops benchmark members and their near-dups, keeps the rest") {
    val bench = docs.where($"doc_id" === 1) // "the quick brown fox jumps..."
    // hand-computed J vs doc 1: doc2 = 1.0 (exact dup), doc3 = 4/10 = 0.4,
    // doc5 = 4/11 ≈ 0.364, doc4 shares nothing
    val survivors = Dedup.decontaminate(docs, bench, threshold = 0.35)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(4L)) // 1 self-matches, 2/3/5 are near-dups
    val laxSurvivors = Dedup.decontaminate(docs, bench, threshold = 0.95)
      .select("doc_id").as[Long].collect().toSet
    assert(laxSurvivors == Set(3L, 4L, 5L)) // only exact-ish dups drop
    // the cross-corpus (non-broadcast) path gives identical results
    val shuffled = Dedup.decontaminate(docs, bench, threshold = 0.35,
        broadcastBenchmark = false)
      .select("doc_id").as[Long].collect().toSet
    assert(shuffled == Set(4L))
  }

  test("cosinePairs: hand-computed cosine within blocks only") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0), (4L, Array(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.cosinePairs(vecs, "vec_id", "embedding", col("label"), 0.9)
      .as[(Long, Long, Double)].collect()
    val ids = out.map(r => (r._1, r._2)).toSet
    assert(ids == Set((1L, 2L)))             // 3 is opposite; 4 in another block
    assert(out.head._3 > 0.99 && out.head._3 <= 1.0)
  }

  test("decontaminateBloom: identical survivors to the exact path, even undersized") {
    val bench = docs.where($"doc_id" === 1L)
    val exact = Dedup.decontaminate(docs, bench, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.decontaminateBloom(docs, bench, threshold = 0.5,
        expectedShingles = 1000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == exact)
    // an undersized, high-fpp filter yields more suspects, never wrong output
    val tiny = Dedup.decontaminateBloom(docs, bench, threshold = 0.5,
        expectedShingles = 2L, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny == exact)
    // null-text docs can't match any benchmark and always survive
    val withNull = docs.unionByName(
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(Dedup.decontaminateBloom(withNull, bench, threshold = 0.5,
        expectedShingles = 1000L, fpp = 0.01)
      .where($"doc_id" === 99L).count() == 1L)
  }

  test("dupSpans: hand-computed duplicated-substring spans (incl. self-repeat)") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x a b c d e f z z"),  // shares "a b c d e f" with doc 1
      (3L, "p q r s p q r s"),      // repeats itself — positions 0-1 and 4-5
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(d, k = 3, minDf = 2)
      .as[(Long, Int, Int, Long)].collect()
      .map { case (id, st, ln, nw) => (id, st) -> ((ln, nw)) }.toMap
    assert(out((1L, 0)) == ((6, 4)))  // windows abc..def merge to one span
    assert(out((2L, 2)) == ((6, 4)))  // same span, shifted by the xx prefix
    assert(out((3L, 0)) == ((4, 2)) && out((3L, 4)) == ((4, 2)))
    assert(out.size == 4)             // null-text doc contributes nothing
  }

  test("stripDupSpans: covered tokens removed; full dups clean to empty") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x a b c d e f z z"),  // shares "a b c d e f" with doc 1
      (3L, "a b c d e f g h i j"),  // exact dup of 1 — fully covered
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(d, k = 3, minDf = 2)
      .as[(Long, Option[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some(""), 10L)))            // whole doc duplicated by 3
    assert(out(2L) == ((Some("x x z z"), 6L)))      // middle span cut
    assert(out(3L) == ((Some(""), 10L)))
    assert(out(4L) == ((None, 0L)))                 // null text stays null
  }

  test("stripDupSpans: token-overlapping spans don't double-count n_removed") {
    // doc 1's windows w0="a b c" and w2="c q r" are duplicated (via docs 2
    // and 3) but w1="b c q" is not: islands {0} and {2} emit spans [0,3)
    // and [2,5), which OVERLAP at token 2. n_removed must be the union
    // (5 tokens — the whole doc), not sum(span_len) = 6.
    val d = Seq(
      (1L, "a b c q r"),
      (2L, "a b c z z z"),
      (3L, "y y y c q r")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(d, k = 3, minDf = 2)
      .where(col("doc_id") === 1L)
      .as[(Long, Int, Int, Long)].collect()
      .map(r => (r._2, r._3)).toSet
    assert(spans == Set((0, 3), (2, 3))) // overlapping in token space
    val out = Dedup.stripDupSpans(d, k = 3, minDf = 2)
      .where(col("doc_id") === 1L)
      .as[(Long, Option[String], Long)].collect().head
    assert(out._2 == Some("") && out._3 == 5L)
  }

  test("boilerplateStats: hand-computed cross-doc gram frequencies") {
    val d = Seq(
      (1L, "a b c d"),    // grams: "a b c", "b c d"
      (2L, "a b c e"),    // grams: "a b c", "b c e"
      (3L, "x a b c"),    // grams: "x a b", "a b c"
      (4L, "q r s t")     // grams: "q r s", "r s t" — none shared
    ).toDF("doc_id", "text")
    // only "a b c" appears in >= 3 docs
    val out = Dedup.boilerplateStats(d, n = 3, minDf = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 1L, 0.5)))
    assert(out(4L) == ((2L, 0L, 0.0)))
  }

  test("boilerplateStats: short docs collapse to a whole-doc gram") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "c")).toDF("doc_id", "text")
    val out = Dedup.boilerplateStats(d, n = 3, minDf = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((1L, 1L, 1.0)))  // "a b" shared by 3 docs
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("boilerplateStats: token-less docs have no gram surface and are absent") {
    val d = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]),
                (3L, "a b c d"), (4L, "   "), (5L, "a b c d"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateStats(d, n = 3, minDf = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // a doc appears iff it has at least one token: shingles() emits NO
    // gram for empty/whitespace/null text (an empty doc has no similarity
    // surface — and a synthetic '' gram would pair every empty doc with
    // every other at J = 1.0, diverging from the SQL oracle whose
    // list_distinct drops its NULL element). Same rule the null-fixture
    // oracle sweep pins end-to-end for dd_boilerplate / dd_novelty.
    assert(out.keySet == Set(1L, 3L, 5L))
    assert(out(1L) == ((2L, 2L, 1.0)))  // both trigrams shared by 3 docs
  }

  test("semanticPairs: full recall and no false positives on clustered vectors") {
    // two tight clusters around orthogonal centers — the SemDeDup regime:
    // every near-dup pair is within-cluster, so KMeans blocking loses nothing
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vecs = (0 until 8).map { i =>
      val ctr = if (i < 4) c1 else c2
      (i.toLong, mk(ctr, 0.01f * (i % 4)), 0)
    }.toDF("vec_id", "embedding", "label")
    val sem = Dedup.semanticPairs(vecs, nCells = 2, threshold = 0.95)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // exact pairs at the same threshold: all within-cluster pairs
    val expected = (for {
      a <- 0 until 8; b <- (a + 1) until 8
      if (a < 4) == (b < 4)
    } yield (a.toLong, b.toLong)).toSet
    assert(sem == expected, s"got $sem")
  }

  test("semanticPairs: emitted cosines are exact (subset of exact pair set)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val sem = Dedup.semanticPairs(emb, nCells = 8, threshold = 0.3)
    val v = emb.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
    val exact = v.select($"vec_id".as("idA"), $"v".as("vA"))
      .crossJoin(broadcast(v.select($"vec_id".as("idB"), $"v".as("vB"))))
      .where($"idA" < $"idB")
      .where(graft.functions.CosineSim.cosine_sim($"vA", $"vB") >= 0.3)
      .select("idA", "idB")
    assert(sem.select("idA", "idB").join(exact, Seq("idA", "idB"), "left_anti")
      .count() == 0L)
  }

  test("semanticPairs: bounded (sampled) fit is deterministic and keeps the exact-subset property") {
    val emb = graft.Tables.embeddings(spark, sf)
    assert(emb.count() > 100L, "fixture must exceed the cap for this test")
    // cap far below the corpus so the sampled-fit path actually runs
    def run() = Dedup.semanticPairs(emb, nCells = 8, threshold = 0.3,
      fitSampleCap = 100L)
    val p1 = run().orderBy("idA", "idB").collect().map(_.toString)
    val p2 = run().orderBy("idA", "idB").collect().map(_.toString)
    assert(p1.sameElements(p2), "sampled fit must be deterministic")
    // emitted cosines are recomputed exactly, so sampled-fit pairs remain
    // a subset of the exact >= threshold pair set (blocking only changes
    // WHICH within-threshold pairs surface, never admits a false positive)
    val v = emb.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
    val exact = v.select($"vec_id".as("idA"), $"v".as("vA"))
      .crossJoin(broadcast(v.select($"vec_id".as("idB"), $"v".as("vB"))))
      .where($"idA" < $"idB")
      .where(graft.functions.CosineSim.cosine_sim($"vA", $"vB") >= 0.3)
      .select("idA", "idB")
    assert(run().select("idA", "idB").join(exact, Seq("idA", "idB"), "left_anti")
      .count() == 0L)
  }

  test("survivorsByPriority: best member per cluster wins; ties to lowest id; singletons pass") {
    val docs = Seq((1L, 10), (2L, 50), (3L, 20), (4L, 7), (5L, 30), (6L, 30))
      .toDF("doc_id", "n_tok")
    // {1,2,3} labeled 1; {5,6} labeled 5; doc 4 in no cluster
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.survivorsByPriority(docs, clusters, "n_tok")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 4L, 5L)) // 2 longest in c1; 5 wins tie; 4 singleton
  }

  test("noveltyScores: owner is the lowest doc_id; fractions hand-computed") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d} — both first here
      (2L, "a b c e"),   // {a b c (owned by 1), b c e (own)} → 0.5
      (3L, "a b c d"))   // exact dup of 1 → owns nothing → 0.0
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 0L, 0.0)))
  }

  test("crossSourceContainment: hand-computed matrix incl. zero cells and diagonal") {
    val docs = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s2"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 3L)).toDF("idA", "idB") // one cross-source near-dup
    val got = Dedup.crossSourceContainment(docs, pairs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size == 4) // full 2x2 grid
    assert(got(("s1", "s2")) == ((2L, 1L, 0.5))) // doc 3 of s2 is in s1
    assert(got(("s2", "s1")) == ((2L, 1L, 0.5))) // doc 1 of s1 is in s2
    assert(got(("s1", "s1")) == ((2L, 0L, 0.0))) // no internal dups
    assert(got(("s2", "s2")) == ((2L, 0L, 0.0)))
  }

  test("segmentDedup: later duplicated segments drop, docs reassemble in order") {
    // segTokens=2 → doc 1: [a b][c d]; doc 2: [a b][x y] (first segment is
    // a corpus dup of doc 1's); doc 3 duplicates doc 1 entirely; doc 4
    // repeats the SAME segment internally (second occurrence drops too)
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b c d"),
      (4L, "p q p q"),
      (5L, ""))           // token-less → empty survivor row, not a lost row
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, segTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a b c d", 0L)))
    assert(got(2L) == (("x y", 1L)))     // "a b" already seen in doc 1
    assert(got(3L) == (("", 2L)))        // fully duplicated → empty text
    assert(got(4L) == (("p q", 1L)))     // internal repeat drops
    assert(got(5L) == (("", 0L)))
  }

  test("segmentDedup: trailing partial segment is its own unit") {
    val docs = Seq((1L, "a b c"), (2L, "c")).toDF("doc_id", "text")
    // segments: doc 1 → [a b][c]; doc 2 → [c] (dup of doc 1's trailing one)
    val got = Dedup.segmentDedup(docs, segTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a b c", 0L)))
    assert(got(2L) == (("", 1L)))
  }

  test("semanticDecontaminate: only vectors within threshold of a benchmark flag") {
    val mk = (id: Long, v: Seq[Float]) => (id, v)
    // benchmark = {0}: e1; corpus: e1-dup (cos 1), orthogonal (cos 0),
    // 45-degree (cos ~0.7071)
    val emb = Seq(
      mk(0L, Seq(1f, 0f)),
      mk(1L, Seq(2f, 0f)),
      mk(2L, Seq(0f, 3f)),
      mk(3L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(
        emb.where($"vec_id" =!= 0L), emb.where($"vec_id" === 0L), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 3L)) // orthogonal vec 2 stays clean
    assert(got(1L) == ((1L, 1.0)))
    assert(got(3L) == ((1L, 0.707107))) // rounded 6dp before aggregation
  }
}
