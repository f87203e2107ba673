package graft

import graft.llm.Bpe

/** BPE fit/encode against an independent in-memory reference
  * implementation (naive dictionary loop, written from the algorithm, not
  * from Bpe.scala), plus the structural contracts the registered queries
  * assert. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // Sennrich-style toy corpus: word frequencies chosen so the first
  // merges are hand-checkable ("es", "est", "est</w>", "l o", ...).
  private val corpus: Seq[(Long, String)] = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
  }

  /** Reference fit: plain Scala maps, no Spark — recount all adjacent
    * pairs each round, take the (count desc, pair asc) argmax, apply the
    * merge left-to-right non-overlapping. */
  private def refFit(freqs: Map[String, Long], nMerges: Int): Seq[(String, String, Long)] = {
    var dict: Map[Vector[String], Long] =
      freqs.map { case (w, f) => (w.map(_.toString).toVector :+ Bpe.EndMark) -> f }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    for (_ <- 0 until nMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- dict; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c >= 2L) {
          out += ((l, r, c))
          dict = dict.map { case (syms, f) =>
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                merged += (l + r); i += 2
              } else { merged += syms(i); i += 1 }
            }
            merged.toVector -> f
          }.groupMapReduce(_._1)(_._2)(_ + _)
        }
      }
    }
    out.toSeq
  }

  private lazy val toyDf = corpus.toDF("doc_id", "text")
  private lazy val toyFreqs = corpus.groupMapReduce(_._2)(_ => 1L)(_ + _)

  test("fit reproduces the reference merge sequence exactly") {
    val got = Bpe.fit(toyDf, nMerges = 10)
    val want = refFit(toyFreqs, 10)
    assert(got.map(m => (m.left, m.right, m.pairCount)) === want)
    assert(got.map(_.rank) === got.indices.toSeq)
    // hand-check the head: "es" (9 = newest 6 + widest 3), then "est",
    // then "est</w>"
    assert(got.take(3).map(m => m.left + m.right) === Seq("es", "est", "est</w>"))
    assert(got.head.pairCount === 9L)
  }

  test("merge counts never increase across ranks") {
    val ms = Bpe.fit(toyDf, nMerges = 10)
    assert(ms.sliding(2).forall(w => w.length < 2 || w(0).pairCount >= w(1).pairCount))
  }

  test("encodeWord of a training word matches the fit-final segmentation") {
    val ms = Bpe.fit(toyDf, nMerges = 10)
    val ranks = ms.map(m => (m.left, m.right) -> m.rank).toMap
    // replay the merges over the dictionary directly
    for (w <- toyFreqs.keys) {
      var syms: Seq[String] = w.map(_.toString) :+ Bpe.EndMark
      for (m <- ms) syms = Bpe.mergeOnce(syms, m.left, m.right)
      assert(Bpe.encodeWord(w, ranks) === syms, s"word $w")
    }
    // unseen word still encodes, reusing learned units where they apply
    val unseen = Bpe.encodeWord("lowest", ranks)
    assert(unseen.mkString === "lowest" + Bpe.EndMark)
    assert(unseen.contains("est" + Bpe.EndMark) || unseen.contains("est"))
  }

  test("encodeWord with no merges yields chars + end marker") {
    assert(Bpe.encodeWord("ab", Map.empty) === Seq("a", "b", Bpe.EndMark))
    assert(Bpe.encodeWord("", Map.empty) === Seq(Bpe.EndMark))
  }

  test("mergeOnce is left-to-right non-overlapping") {
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergeOnce(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
  }

  test("encodedTokenCounts: exact counts, one row per doc, wordless docs zero") {
    val ms = Bpe.fit(toyDf, nMerges = 10)
    val ranks = ms.map(m => (m.left, m.right) -> m.rank).toMap
    val df = (corpus :+ (999L, "!!! ???")).toDF("doc_id", "text")
    val got = Bpe.encodedTokenCounts(df, ms).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size === corpus.size + 1)
    for ((id, w) <- corpus) {
      val n = Bpe.encodeWord(w, ranks).length.toLong
      assert(got(id) === ((1, w.length.toLong, n)), s"doc $id word $w")
    }
    assert(got(999L) === ((0, 0L, 0L)))
  }

  test("fit leaves no persisted RDDs behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Bpe.fit(toyDf, nMerges = 4)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty)
  }

  test("fitDistributedVerbose releases every merge round's checkpoint") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val fitted = Bpe.fitDistributedVerbose(toyDf, nMerges = 8, batchMerges = 1)
    assert(fitted.merges.nonEmpty)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"merge rounds left pinned RDDs: ${after -- before}")
  }

  test("fixture fit at sf0.001 matches the oracle's first merge and is deterministic") {
    val docs = Tables.documents(spark, sf)
    val ms = Bpe.fit(docs, nMerges = 4)
    // independently computed by the DuckDB prototype of the tx_bpe_fit
    // oracle over the same fixture: argmax pair is (e, r) x 4650
    assert((ms.head.left, ms.head.right, ms.head.pairCount) === (("e", "r", 4650L)))
    val again = Bpe.fit(docs, nMerges = 4)
    assert(again === ms)
  }

  test("merges are invariant to topTypes beyond the corpus's type count") {
    val docs = Tables.documents(spark, sf)
    val nTypes = Bpe.wordTypes(docs, topTypes = Int.MaxValue).count()
    assert(nTypes < 64L, s"fixture grew past the caps this test uses ($nTypes types)")
    // both caps exceed the type count, so the truncation is a no-op and
    // the learned merges must be identical — the explicit contract of the
    // frequency cutoff (it binds only when the corpus outgrows it)
    val a = Bpe.fit(docs, nMerges = 64, topTypes = 64)
    val b = Bpe.fit(docs, nMerges = 64, topTypes = 65536)
    assert(a === b)
  }

  test("non-toy vocabulary: 512-deep incremental fit equals the naive reference trainer") {
    // syllable-composed synthetic corpus: ~1.3k distinct word types with
    // heavy shared-pair structure, enough to sustain 512 genuine merges
    val syl = Vector("ba", "ce", "di", "fo", "gu", "ka", "le", "mi",
      "no", "pu", "ra", "se", "ti", "vo", "wa", "ze")
    val words = (0 until 1344).map { i =>
      syl(i % 16) + syl((i / 16) % 16) + syl((i / 256) % 16)
    }
    val freqs = words.zipWithIndex
      .map { case (w, i) => w -> ((i % 7) + 1).toLong }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val df = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill((i % 7) + 1)(w)
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = Bpe.fitVerbose(df, nMerges = 512)
    assert(got.merges.length === 512, "corpus must sustain the full depth")
    assert(!got.exhausted)
    val want = refFit(freqs, 512)
    assert(got.merges.map(m => (m.left, m.right, m.pairCount)) === want)
  }

  test("distributed fallback matches the uncapped driver trainer above the 64k type cap") {
    // 41^3 = 68,921 distinct syllable-composed word types — past the
    // 65,536 default cap, so the capped driver trainer WOULD truncate
    // tail types here; the distributed trainer never collects the type
    // table and must learn exactly what the driver trainer learns when
    // the driver can still hold the table uncapped (it can: ~69k rows)
    val syl = (for (c <- "bcdfghjklmnpqrstvwz"; v <- "aeiou")
      yield s"$c$v").take(41)
    val words = (0 until 41 * 41 * 41).map { i =>
      syl(i % 41) + syl((i / 41) % 41) + syl((i / 1681) % 41)
    }
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    assert(Bpe.wordTypes(df, topTypes = Int.MaxValue).count() > 65536L,
      "corpus must exceed the default type cap for this test to bind")
    val uncapped = Bpe.fit(df, nMerges = 6, topTypes = Int.MaxValue)
    val dist = Bpe.fitDistributed(df, nMerges = 6)
    assert(dist === uncapped)
  }

  test("batched distributed fit learns the sequential merge sequence " +
       "with >= 5x fewer Spark jobs (job-count listener)") {
    // the 512-merge corpus's 16-syllable generator at depth 64: deep
    // enough that later rounds (longer, more-distinct symbols) batch
    // well past the early single-char conflict regime
    val syl = Vector("ba", "ce", "di", "fo", "gu", "ka", "le", "mi",
      "no", "pu", "ra", "se", "ti", "vo", "wa", "ze")
    val words = (0 until 1344).map { i =>
      syl(i % 16) + syl((i / 16) % 16) + syl((i / 256) % 16)
    }
    val df = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill((i % 7) + 1)(w)
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    def countJobs(f: => Bpe.FitResult): (Bpe.FitResult, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      try {
        val r = f
        org.apache.spark.sql.graftshim.Shim.drainListenerBus(sc)
        (r, n.get())
      } finally sc.removeSparkListener(l)
    }
    val (seq, seqJobs) = countJobs(
      Bpe.fitDistributedVerbose(df, nMerges = 64, batchMerges = 1))
    val (bat, batJobs) = countJobs(
      Bpe.fitDistributedVerbose(df, nMerges = 64, batchMerges = 16))
    assert(seq.merges.length === 64 && !seq.exhausted)
    assert(bat.merges === seq.merges,
      "batched selection must learn EXACTLY the sequential merge table")
    assert(bat.exhausted === seq.exhausted)
    assert(seqJobs >= 5 * batJobs,
      s"expected >= 5x fewer jobs batched; sequential ran $seqJobs, " +
        s"batched ran $batJobs")
  }

  test("fitVerbose reports exhaustion only when the corpus genuinely runs dry") {
    val full = Bpe.fitVerbose(toyDf, nMerges = 1000)
    assert(full.exhausted, "toy corpus cannot sustain 1000 merges")
    // continuing past the reported exhaustion point finds nothing more
    assert(Bpe.fit(toyDf, nMerges = 1000) === Bpe.fit(toyDf, nMerges = 2000))
    val truncated = Bpe.fitVerbose(toyDf, nMerges = 3)
    assert(!truncated.exhausted, "a depth-truncated fit is not exhaustion")
    assert(truncated.merges.length === 3)
  }
}
