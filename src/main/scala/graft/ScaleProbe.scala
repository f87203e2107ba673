package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale probe: inflate the sf0.1 fixtures ~`factor`× with
  * content-perturbed copies and run the three scale-critical pipelines —
  * the ER flagship, MinHash near-dup, and the IVF store build+serve —
  * at 1× and at `factor`×, asserting the scaling CLAIMS the plan audits
  * argue on paper:
  *
  *   - flagship LSH candidates grow ~linearly in distinct keys (the
  *     distinct-key blocking property of Blocking.dedupedSimilarityJoin);
  *   - near-dup candidate pairs grow ~linearly (banded LSH, never
  *     all-pairs);
  *   - connected-component rounds stay ~log of the longest chain (flat
  *     under structure-preserving inflation) while per-round work grows
  *     ~linearly in edges — the iterative operator's bound;
  *   - IVF cells grow ~√n (autoCells) so per-probe candidate volume
  *     stays flat and serve latency grows sub-linearly;
  *   - every wall-clock ratio stays FAR below factor² — the quadratic
  *     signature none of these pipelines is allowed to have.
  *
  * Inflation rule: copy `i` offsets every key by i·10,500,000 (divisible
  * by 3, 7, 10, 20 — so the key-arithmetic derivations in Catalogs and
  * the flagship's id%10 subset select the same rows in every copy) and
  * renames every text/name token to md5(token + copy)[0..6]. Token
  * renaming preserves each copy's INTERNAL similarity structure exactly
  * (equal tokens stay equal within a copy, Catalogs' upper-case
  * perturbation still applies on top) while making copies mutually
  * dissimilar — so distinct keys and true near-dup groups grow ~factor×,
  * the honest "bigger corpus" shape, not a duplication flood (which
  * would measure output growth, not engine scaling). Embedding copies
  * rotate the vector by i positions: norm-preserving, direction-changing.
  *
  *   sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 10"
  *
  * Prints one [scale] line per measurement and a final PASS/FAIL;
  * exits 1 on any violated bound. Measured ratios are recorded in
  * BASELINE.md.
  */
object ScaleProbe {

  private val KeyOffset = 10500000L // divisible by 3, 4, 5, 7, 10, 20

  // resolved against the working directory: each checkout probes in its own tree
  private val qtmp = new java.io.File("target/qtmp").getAbsolutePath

  private def tokenRename(c: org.apache.spark.sql.Column,
                          cp: org.apache.spark.sql.Column) =
    when(cp === 0, c).otherwise(
      concat_ws(" ", transform(split(coalesce(c, lit("")), " "),
        t => substring(md5(concat(t, lit("#"), cp.cast("string"))), 1, 6))))

  /** Stage the inflated tables under a marker-guarded qtmp dir; returns
    * the dir (re-staged only when the base fixture changes). */
  def inflateDir(spark: SparkSession, base: String, factor: Int): String = {
    import java.nio.file.{Files, Paths}
    val out = Paths.get(qtmp,
      s"scale_${Integer.toHexString(base.hashCode)}_x$factor")
    val marker = out.resolve("_graft_staged")
    // v2: embedding inflation rule changed (pmod rotation + per-copy
    // coordinate nudge) — the version token invalidates v1 stagings
    val sig = "v2:" + Seq("part", "documents", "embeddings").map { t =>
      val p = Paths.get(base, s"$t.parquet")
      s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }.mkString(",")
    if (Files.exists(marker) && Files.readString(marker).trim == sig)
      return out.toString
    val copies = spark.range(factor).select(col("id").cast("int").as("__cp"))
    def inflated(table: String): DataFrame =
      spark.read.parquet(s"$base/$table.parquet").crossJoin(broadcast(copies))
    inflated("part")
      .withColumn("p_partkey", col("p_partkey") + col("__cp") * KeyOffset)
      .withColumn("p_name", tokenRename(col("p_name"), col("__cp")))
      .withColumn("p_brand", tokenRename(col("p_brand"), col("__cp")))
      .drop("__cp")
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    inflated("documents")
      .withColumn("doc_id", col("doc_id") + col("__cp") * KeyOffset)
      .withColumn("text", tokenRename(col("text"), col("__cp")))
      .drop("__cp")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // rotate by __cp mod dim (the raw slice offsets wrap to the ORIGINAL
    // vector once __cp >= dim — a duplicate flood, not a bigger corpus),
    // then nudge one copy-dependent coordinate so even copies sharing a
    // rotation (factor > dim) stay direction-distinct
    inflated("embeddings")
      .withColumn("vec_id", col("vec_id") + col("__cp") * KeyOffset)
      .withColumn("embedding",
        when(col("__cp") === 0 || col("embedding").isNull, col("embedding"))
          .otherwise(transform(
            concat(
              expr("slice(embedding, pmod(__cp, size(embedding)) + 1, 1000000)"),
              expr("slice(embedding, 1, pmod(__cp, size(embedding)))")),
            (x, i) => when(i === pmod(col("__cp"), size(col("embedding"))),
                x + (col("__cp") % 97).cast("float") * lit(0.003f))
              .otherwise(x))))
      .drop("__cp")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    Files.writeString(marker, sig)
    out.toString
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  case class Point(flagshipS: Double, flagshipCands: Long,
                   minhashS: Double, minhashCands: Long,
                   annBuildS: Double, annCells: Long, annServeS: Double,
                   ivfPqServeS: Double,
                   bm25BuildS: Double, bm25ServeS: Double,
                   nearDupDeltaS: Double,
                   ccS: Double, ccRounds: Int,
                   refreshS: Double)

  private def measure(spark: SparkSession, dir: String, tag: String): Point = {
    // flagship: feature fit + LSH blocking + bounded-sample train + full
    // candidate scoring + top-500 rank (candidate count reads the matcher
    // memo's cached labeled frame the flagship call just built — a cache
    // read, so the blocking join is never charged twice)
    val (_, tFlag) = timed {
      graft.queries.MatchQueries.flagship(spark, dir).count()
    }
    val (nCands, _) = timed {
      graft.queries.MatchQueries.flagshipCandidateCount(spark, dir)
    }
    println(f"[scale] $tag flagship: $tFlag%.1f s, $nCands candidates")
    // near-dup: banded MinHash candidate generation + signature verify
    val docs = Tables.documents(spark, dir)
    val (nNear, tNear) = timed {
      graft.llm.Dedup.minhashPairs(docs, threshold = 0.35).count()
    }
    println(f"[scale] $tag minhash: $tNear%.1f s, $nNear pairs")
    // connected components over the banded pair graph — the one ITERATIVE
    // operator (dd_clusters' min-label propagation with pointer doubling).
    // The pair frame is pinned first so the timing isolates the CC loop
    // from candidate generation (measured separately above). Claims:
    // rounds grow ~log of the longest chain — the inflation preserves each
    // copy's internal similarity structure exactly, so chain lengths (and
    // hence rounds) should stay FLAT while edges grow ~factor× — and wall
    // grows ~linearly in edges·rounds.
    val (cc, tCc) = Sweep.pinned { pin =>
      val ccPairs = pin(graft.llm.Dedup.minhashPairs(docs, threshold = 0.35)
        .localCheckpoint())
      timed {
        val (labels, rounds) = graft.llm.Dedup.dupClustersCounted(ccPairs)
        (labels.select("cluster_id").distinct().count(), rounds)
      }
    }
    println(f"[scale] $tag cc: $tCc%.1f s (${cc._1} clusters, ${cc._2} rounds)")
    // IVF store: auto-√n-cell build, then a fixed 24-query serve
    val emb = Tables.embeddings(spark, dir)
    val store = s"$qtmp/scaleprobe_ivf_$tag"
    graft.io.IO.deletePath(store)
    val (_, tBuild) = timed {
      graft.llm.Ann.writeIvfStore(emb, store, nCells = 0)
    }
    val nCells = graft.llm.Ann.readCentroids(spark, store).count()
    val queries = emb.where(s"vec_id < 24") // copy-0 original vectors
    val (_, tServe) = timed {
      graft.llm.Ann.ivfStoreTopK(spark, store, queries, k = 10).count()
    }
    println(f"[scale] $tag ann: build $tBuild%.1f s ($nCells cells), " +
      f"serve $tServe%.1f s")
    // IVF-PQ store: codes-at-rest tier, same √n cells (reuse the IVF
    // store's fitted centroids — the probe measures the SERVE shape, not
    // quantizer training; the residual codebook fit inside the build is
    // hash-sample-capped, so it stays bounded at any factor), fixed
    // 24-query serve with exact flat refine. The probed read is code
    // rows of nProbe cells per query, so serve must stay ~flat like the
    // full-precision IVF serve above.
    val pqStore = s"$qtmp/scaleprobe_ivfpq_$tag"
    graft.io.IO.deletePath(pqStore)
    graft.llm.Ann.writeIvfPqStore(emb, pqStore,
      centroids = Some(graft.llm.Ann.readCentroids(spark, store)))
    val (_, tPqServe) = timed {
      graft.llm.Ann.ivfPqStoreTopK(spark, pqStore, queries, k = 10,
        refineFrom = Some(emb)).count()
    }
    println(f"[scale] $tag ivfpq: serve $tPqServe%.1f s")
    // BM25 store: √n-auto-bucketed build, then a fixed 4-term serve — the
    // lexical-retrieval analog of the IVF serve above. Query terms live in
    // copy 0 only (token renaming), so the OUTPUT is scale-invariant and
    // the measured growth is purely the pruned read's: ≤ |terms|+1 buckets
    // of √n-growing posting volume, never the corpus.
    val bmStore = s"$qtmp/scaleprobe_bm25_$tag"
    graft.io.IO.deletePath(bmStore)
    val (_, tBmBuild) = timed {
      graft.llm.Bm25Store.write(docs, bmStore, termBuckets = 0)
    }
    val (nBmHits, tBmServe) = timed {
      graft.llm.Bm25Store.scores(spark, bmStore,
        Seq("vector", "stream", "hash", "spark")).count()
    }
    println(f"[scale] $tag bm25: build $tBmBuild%.1f s, " +
      f"serve $tBmServe%.1f s ($nBmHits hits)")
    // incremental near-dup: seed the band-key store from the full corpus
    // (cost ∝ corpus, not bounded here), then flag a FIXED 32-doc delta
    // against it — the O(delta + touched buckets) claim of
    // nearDupBatchAgainstStore. Buckets are sized ∝ corpus (~300 band
    // rows per bucket) so the touched-bucket read volume tracks the
    // DELTA's band keys, not the corpus.
    val ndStore = s"$qtmp/scaleprobe_neardup_$tag"
    graft.io.IO.deletePath(ndStore)
    val nDocs = docs.count()
    val ndBuckets = math.max(64L, nDocs * 12 / 300).toInt
    graft.streaming.DocStreams.nearDupBatchAgainstStore(
      docs, ndStore, nBuckets = ndBuckets).count() // seed (all novel)
    val delta = docs.where("doc_id % 20 = 3").limit(32)
      .withColumn("doc_id", col("doc_id") + 900000000L)
    val (nNovel, tDelta) = timed {
      graft.streaming.DocStreams.nearDupBatchAgainstStore(delta, ndStore)
        .where(col("is_novel")).count()
    }
    println(f"[scale] $tag neardup-delta: $tDelta%.1f s " +
      f"($nNovel/32 novel, $ndBuckets buckets)")
    // FORCED quantizer refresh — the one remaining iterative O(store)
    // maintenance op: staleness report (one pass per side) + centroid
    // refit (hash-sample-capped Lloyd, bounded iters) + full re-route +
    // rewrite, in one commit. Claim: ~linear in the corpus — the fit
    // input is capped, so only the report/route/write passes scale.
    // Runs LAST: it rewrites the store the serve timings above read.
    val (_, tRefresh) = timed {
      graft.llm.Ann.refreshIvfStore(spark, store, force = true)
    }
    println(f"[scale] $tag refresh: $tRefresh%.1f s")
    Point(tFlag, nCands, tNear, nNear, tBuild, nCells, tServe, tPqServe,
      tBmBuild, tBmServe, tDelta, tCc, cc._2, tRefresh)
  }

  /** SERVE-ONLY probe point — the 100×-class check of the pruned-serve
    * family. The full probe's quadratic-prone pipelines (flagship,
    * minhash, CC) are bounded at 10×; the three STORE serves measured
    * flat there are the paths DESIGNED for far larger corpora, so they
    * get one point at 100× inflation: stores are built on the inflated
    * corpus (build cost is the 10× probe's ~linear concern, not timed
    * here) and only the serve walls are bounded — ≤ 2× while the corpus
    * grew `factor`×, because a serve reads probed cells / query-term
    * buckets whose count and per-bucket volume grow √n, all dwarfed by
    * fixed job overhead at these absolute sizes. */
  private case class ServePoint(ivfS: Double, ivfPqS: Double, bm25S: Double,
                                ivfBatchS: Double, bm25BatchS: Double)

  private def measureServe(spark: SparkSession, dir: String, tag: String): ServePoint = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val store = s"$qtmp/scaleprobe_srv_ivf_$tag"
    graft.io.IO.deletePath(store)
    graft.llm.Ann.writeIvfStore(emb, store, nCells = 0)
    val nCells = graft.llm.Ann.readCentroids(spark, store).count()
    val queries = emb.where("vec_id < 24") // copy-0 original vectors
    val (_, tServe) = timed {
      graft.llm.Ann.ivfStoreTopK(spark, store, queries, k = 10).count()
    }
    // BATCH vector serve at a recall target: 256 queries through ONE
    // probed plan, the probe budget resolved against the store's
    // persisted measured curve. The tune itself is the OFFLINE op
    // (untimed, like the builds); the timed wall is the batch serve —
    // its claim: per-query probed reads are √n-flat exactly like the
    // 24-query point, and the driver-side work (probe collect) is
    // bounded by cell count, not batch size.
    graft.llm.Ann.tuneProbe(spark, store, queries, k = 10)
    val resolvedProbe = graft.llm.Ann.resolveCurve(spark, store,
      graft.llm.Ann.Knob.Probe, 0.9, forK = 10)
    val batchQ = emb.where("vec_id < 256") // copy-0 original vectors
    val (_, tBatchServe) = timed {
      graft.llm.Ann.ivfStoreTopKAtRecall(spark, store, batchQ, k = 10,
        minRecall = 0.9).count()
    }
    val pqStore = s"$qtmp/scaleprobe_srv_ivfpq_$tag"
    graft.io.IO.deletePath(pqStore)
    graft.llm.Ann.writeIvfPqStore(emb, pqStore,
      centroids = Some(graft.llm.Ann.readCentroids(spark, store)))
    val (_, tPqServe) = timed {
      graft.llm.Ann.ivfPqStoreTopK(spark, pqStore, queries, k = 10,
        refineFrom = Some(emb)).count()
    }
    val bmStore = s"$qtmp/scaleprobe_srv_bm25_$tag"
    graft.io.IO.deletePath(bmStore)
    graft.llm.Bm25Store.write(docs, bmStore, termBuckets = 0)
    val (nHits, tBmServe) = timed {
      graft.llm.Bm25Store.scores(spark, bmStore,
        Seq("vector", "stream", "hash", "spark")).count()
    }
    // BATCH lexical serve: 256 queries in ONE pruned read — the
    // tx_bm25_batch claim measured (driver work bounded by the store's
    // bucket count, never batch size; terms live in copy 0 only, so the
    // pruned volume per bucket grows √n like the single serve's)
    val pool = Seq("vector", "stream", "hash", "spark", "data", "model",
      "graph", "query", "code", "table")
    val batch = (0 until 256).map(i =>
        (i.toLong, (0 until 4).map(j => pool((i + j * 3) % pool.size)).distinct))
      .toDF("query_id", "terms")
    val (nBatchHits, tBmBatch) = timed {
      graft.llm.Bm25Store.scoresBatch(spark, bmStore, batch).count()
    }
    println(f"[scale] $tag serves ($nCells cells): ivf $tServe%.1f s, " +
      f"ivf-batch256 $tBatchServe%.1f s (nProbe $resolvedProbe at recall 0.9), " +
      f"ivfpq $tPqServe%.1f s, " +
      f"bm25 $tBmServe%.1f s ($nHits hits), " +
      f"bm25-batch256 $tBmBatch%.1f s ($nBatchHits rows)")
    ServePoint(tServe, tPqServe, tBmServe, tBatchServe, tBmBatch)
  }

  private def serveOnlyMain(spark: SparkSession, base: String, factor: Int): Unit = {
    val big = inflateDir(spark, base, factor)
    println(s"[scale] inflated dir staged at $big (factor $factor, serve-only)")
    val p1 = measureServe(spark, base, "srv1x")
    val pN = measureServe(spark, big, s"srv${factor}x")
    def ratio(a: Double, b: Double) = b / math.max(a, 1e-9)
    // two bound classes: FLAT (≤ 2×) for the overhead-dominated single
    // and driver-bounded lexical serves, and SUB-√n (≤ √factor) for the
    // recall-target VECTOR batch — at equal recall its per-query probed
    // volume grows ~√n by construction (per-cell volume grows √n under
    // the √n cell-sizing rule, and the resolved probe budget may grow
    // with corpus density), so "flat" was never that serve's claim;
    // sub-√n is, and it is the bound a 1000-executor capacity plan
    // actually needs (probed bytes per query, not job overhead).
    val flatBound = 2.0
    val sqrtBound = math.sqrt(factor.toDouble)
    val checks = Seq(
      ("ivf store serve flat at 100x-class corpus",
        ratio(p1.ivfS, pN.ivfS), flatBound),
      ("ivf 256-query recall-target batch serve sub-sqrt(n)",
        ratio(p1.ivfBatchS, pN.ivfBatchS), sqrtBound),
      ("ivfpq store serve flat at 100x-class corpus",
        ratio(p1.ivfPqS, pN.ivfPqS), flatBound),
      ("bm25 store serve flat at 100x-class corpus",
        ratio(p1.bm25S, pN.bm25S), flatBound),
      ("bm25 256-query batch serve flat at 100x-class corpus",
        ratio(p1.bm25BatchS, pN.bm25BatchS), flatBound))
    var ok = true
    checks.foreach { case (name, r, bound) =>
      val pass = r <= bound
      ok &= pass
      println(f"[scale] ${if (pass) "PASS" else "FAIL"} $name: " +
        f"ratio $r%.2fx (bound $bound%.1fx at factor $factor)")
    }
    println(s"[scale] ${if (ok) "ALL PASS" else "FAILED"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    // flags are stripped BEFORE positional parsing, so "--serve-only"
    // without an explicit factor neither parses as the factor (NFE) nor
    // masquerades as the base directory
    val serveOnly = args.contains("--serve-only")
    val pos = args.filterNot(_.startsWith("--"))
    val base = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = pos.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // NOTE: spark.driver.memory is NOT set here — it is only read at
      // JVM launch (spark-submit), so a builder config in an already-
      // forked JVM is silently ignored; the heap comes from build.sbt's
      // run / fork javaOptions
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (serveOnly) { serveOnlyMain(spark, base, factor); return }
    val big = inflateDir(spark, base, factor)
    println(s"[scale] inflated dir staged at $big (factor $factor)")

    val p1 = measure(spark, base, "1x")
    val pN = measure(spark, big, s"${factor}x")

    def ratio(a: Double, b: Double) = b / math.max(a, 1e-9)
    val checks = Seq(
      ("flagship candidates ~linear in distinct keys",
        ratio(p1.flagshipCands.toDouble, pN.flagshipCands.toDouble), 2.0 * factor),
      ("flagship wall sub-quadratic",
        ratio(p1.flagshipS, pN.flagshipS), 2.0 * factor),
      ("minhash candidates ~linear",
        ratio(p1.minhashCands.toDouble, pN.minhashCands.toDouble), 2.0 * factor),
      ("minhash wall sub-quadratic",
        ratio(p1.minhashS, pN.minhashS), 2.0 * factor),
      ("ivf build wall ~linear",
        ratio(p1.annBuildS, pN.annBuildS), 2.0 * factor),
      ("ivf cells ~sqrt growth (no bucket flood)",
        ratio(p1.annCells.toDouble, pN.annCells.toDouble), 2.0 * math.sqrt(factor)),
      ("ivf serve sub-linear",
        ratio(p1.annServeS, pN.annServeS), 1.0 * factor),
      ("ivfpq serve sub-linear (pruned code read + flat refine)",
        ratio(p1.ivfPqServeS, pN.ivfPqServeS), 1.0 * factor),
      ("bm25 store build ~linear",
        ratio(p1.bm25BuildS, pN.bm25BuildS), 2.0 * factor),
      ("bm25 store serve sub-linear (bucket-pruned read)",
        ratio(p1.bm25ServeS, pN.bm25ServeS), 1.0 * factor),
      ("near-dup fixed-delta batch sub-linear (O(delta + touched buckets))",
        ratio(p1.nearDupDeltaS, pN.nearDupDeltaS), 0.5 * factor),
      // structure-preserving inflation ⇒ chain lengths (and so rounds)
      // flat; 2.0 allows one extra propagation round of slack
      ("cc rounds ~log of longest chain (flat under copy inflation)",
        ratio(p1.ccRounds.toDouble, pN.ccRounds.toDouble), 2.0),
      ("cc wall ~linear in edges·rounds",
        ratio(p1.ccS, pN.ccS), 2.0 * factor),
      ("ivf refresh wall ~linear (capped fit; report/route/write passes)",
        ratio(p1.refreshS, pN.refreshS), 2.0 * factor))
    var ok = true
    checks.foreach { case (name, r, bound) =>
      val pass = r <= bound
      ok &= pass
      println(f"[scale] ${if (pass) "PASS" else "FAIL"} $name: " +
        f"ratio $r%.2fx (bound $bound%.1fx at factor $factor)")
    }
    println(s"[scale] ${if (ok) "ALL PASS" else "FAILED"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
