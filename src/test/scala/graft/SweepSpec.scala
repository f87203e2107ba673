package graft

/** Regression guard for the between-query session hygiene (graft.Sweep):
  * the round-5 driver bench regressed ~1.8× because checkpoint blocks,
  * stray caches, memory-sink views, and per-run qtmp stores accumulated
  * across the 129-query run. This suite runs one representative query per
  * leak class through the Bench protocol (query → consume → Sweep.drop)
  * and asserts the block manager drains to exactly the declared
  * session-lifetime memos each time. It also pins the within-call rule:
  * a pin scope releases what its body pinned, `Sweep.release` refuses a
  * frame that holds no pin, and no release is written outside the two.
  */
class SweepSpec extends SparkSpec {

  // one per leak class:
  //  - dd_exact        → pins nothing (control)
  //  - dd_minhash      → Dedup.releasing's checkpoint behind a returned
  //                      frame, plus a pin scope over its stats
  //  - s5_upsert       → IO.upsert, a pure join: pins nothing (control)
  //  - j4_lsh_join     → Blocking checkpoint + MatchQueries stage memos
  //  - ann_brute_topk  → SessionMemo.frame localCheckpoint memo
  //  - p8_cache        → an explicitly cached query frame
  //  - st_dedup        → memory-sink streaming query (runToBatch)
  private val sample = Seq("dd_exact", "dd_minhash", "s5_upsert", "j4_lsh_join",
    "ann_brute_topk", "p8_cache", "st_dedup")

  test("persistent RDDs drain to the retained memos after every query + sweep") {
    val qs = SparkEntry.queries
    sample.foreach { name =>
      // Bench protocol: materialize every column, then sweep
      qs(name)(spark, sf).queryExecution.toRdd.count()
      Sweep.drop(spark)
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val leaked = left.diff(Sweep.retainedIds)
      assert(leaked.isEmpty,
        s"after $name + sweep, non-retained RDDs persist: $leaked")
    }
  }

  test("retained memos stay executable across sweeps") {
    // j4 in the sample built the feature-stage memo; a sweep must not have
    // evicted the blocks that back it (a swept localCheckpoint cannot
    // recompute — this re-execution would throw)
    val n = SparkEntry.queries("f13_pipeline_chain")(spark, sf).count()
    assert(n > 0)
    Sweep.drop(spark)
    assert(SparkEntry.queries("x2_model_score")(spark, sf).count() > 0)
  }

  test("ephemeral qtmp stores are deleted once their query is consumed") {
    val before = qtmpPerRunStores()
    SparkEntry.queries("st_foreach_upsert")(spark, sf)
      .queryExecution.toRdd.count()
    Sweep.drop(spark)
    assert(qtmpPerRunStores() == before,
      "per-run store survived the post-consumption sweep")
  }

  test("a pin scope releases a cached frame and a checkpoint when its body throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    var cached: org.apache.spark.sql.DataFrame = null
    val boom = intercept[IllegalStateException] {
      Sweep.pinned { pin =>
        cached = pin(spark.range(100).selectExpr("id * 2 AS v").cache())
        cached.count() // materialize, so the cache holds an RDD
        val cp = pin(spark.range(50).selectExpr("id + 1 AS w").localCheckpoint())
        assert(sc.getPersistentRDDs.size >= before.size + 2)
        assert(cp.count() == 50L)
        throw new IllegalStateException("body failed")
      }
    }
    assert(boom.getMessage == "body failed")
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the cache manager still holds the scope's cached frame")
  }

  test("release frees one pin once and refuses a frame that holds none") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = Sweep.pinned { pin =>
      val cp = pin(spark.range(8).toDF().localCheckpoint())
      pin.release(cp) // a round loop's early release
      assert(sc.getPersistentRDDs.keySet.toSet == before)
      // two caches of one plan share one entry, which is released once
      pin(spark.range(3).toDF().cache()); pin(spark.range(3).toDF().cache())
      pin.keep(pin(spark.range(4).toDF().localCheckpoint()))
    }
    // a kept pin outlives its scope behind the caller's frame
    assert(out.count() == 4L)
    Sweep.release(out)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    // a second release, or a frame that never pinned, frees nothing: refused
    intercept[IllegalArgumentException](Sweep.release(out))
    intercept[IllegalArgumentException](Sweep.release(spark.range(4).toDF()))
  }

  /** `path:line: text` of every src/main source line `bad` flags, files
    * named in `owners` exempt. */
  private def mainSourceLines(owners: Set[String])(bad: String => Boolean): Seq[String] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val root = new java.io.File("src/main/scala")
    val scanned = files(root)
    assert(scanned.exists(_.getName == "Sweep.scala"), s"no sources under ${root.getAbsolutePath}")
    for {
      f <- scanned if !owners(f.getName)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if bad(line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("every pin release in src/main goes through Sweep.release") {
    val offenders = mainSourceLines(Set("Sweep.scala", "shim.scala"))(line =>
      line.contains("unpersist(") || line.contains("releaseCheckpoint"))
    assert(offenders.isEmpty, offenders.mkString("release outside the one rule:\n", "\n", ""))
  }

  test("no src/main string literal names an absolute checkout path") {
    // scratch stores resolve under Sweep.Qtmp and tools against the working
    // directory, so a second checkout never writes into this one
    val checkout = "\"" + new java.io.File("").getAbsolutePath
    val offenders = mainSourceLines(Set.empty)(_.contains(checkout))
    assert(offenders.isEmpty, offenders.mkString("absolute checkout path:\n", "\n", ""))
  }

  private def qtmpPerRunStores(): Set[String] = {
    val dir = new java.io.File(Sweep.Qtmp)
    Option(dir.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.startsWith("st_") || n.startsWith("ivf_store_")
        || n.startsWith("export_shards_"))
  }
}
