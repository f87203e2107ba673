package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The 72 queries registered at the round-2 run that set the 177.9 s
    * BASELINE.md contract figure (CORRECTNESS_r02.json's key set; one
    * rename since: mm_decode_stub became mm_decode when the real codec
    * replaced the stub). The 2× bench gate compares a growing suite to
    * this fixed subset's baseline, so the artifact records the subset's
    * own subtotal per run — like-for-like however many queries the
    * suite has gained since. */
  val ContractSubset: Set[String] = Set(
    "a1_collect_list", "a2_grouped_count", "a3_global_count", "a4_corpus_idf",
    "a5_pricing_summary", "a6_rollup", "a7_percentiles", "ann_brute_topk",
    "ann_ivf_topk", "ann_lsh_topk", "dd_cosine", "dd_exact", "dd_minhash",
    "dd_ngram_jaccard", "dd_simhash", "er_flagship_match", "er_inference",
    "f10_l2_normalize", "f11_word2vec", "f12_vector_assembler",
    "f13_pipeline_chain", "f1_tokenize", "f2_stopwords", "f3_explode_melt",
    "f4_char_trigrams", "f5_regroup_collapse", "f6_word_bigrams",
    "f7_hashing_tf", "f8_hashing_tf_counts", "f9_idf", "j1_threeway_join",
    "j2_leftouter", "j3_aliased_join", "j4_lsh_join", "j5_crossjoin_exact",
    "j6_semi_anti", "m2_stratified_split", "m3_class_weights",
    "m5_train_eval", "m7_model_store", "mm_binary_meta", "mm_decode",
    "mm_frame_sample", "o1_ranked", "p1_clean_cast", "p2_lit_provenance",
    "p3_coalesce", "p4_projection", "p5_filter", "p6_label_default",
    "p7_sample", "p8_cache", "p9_limit", "s2_csv_scan", "s3_parquet_sink",
    "s4_table_scan", "s5_upsert", "s6_artifact_roundtrip", "st_dedup",
    "st_sessionize", "st_window_counts", "tx_fingerprint", "tx_langid",
    "tx_quality", "tx_token_counts", "u1_union_all", "u2_union_distinct",
    "w1_class_ratio", "w2_event_lag", "x1_sqdist", "x2_model_score",
    "x3_posexplode")

  val PerQueryFile = "target/bench_per_query.json"

  /** One query's span rows (its own path and the paths under it, plus the
    * empty path for any job that ran outside every span) with its
    * fit-memo deltas and the host load at its end. */
  final case class QueryRun(name: String, rows: Seq[obs.Row], memoHits: Long,
                            memoMisses: Long, loadavg: Double) {
    def sum(f: obs.Row => Long): Long = rows.map(f).sum
    def sec: Double = rows.find(_.path == name).map(_.wallMs / 1000).getOrElse(0.0)
    def unspannedJobs: Long = rows.filter(_.path.isEmpty).map(_.jobs).sum
    def json: String = {
      // fit-memo fields only where fits happened — keeps the artifact
      // diffable without 180 rows of zeros
      val memo = if (memoHits == 0 && memoMisses == 0) ""
        else s""","fit_memo_hits":$memoHits,"fit_memo_misses":$memoMisses"""
      s"""  {"query":"$name","sec":$sec,"jobs":${sum(_.jobs)},"tasks":${sum(_.tasks)},""" +
        s""""task_ms":${sum(_.taskMs)},"input_bytes":${sum(_.inputBytes)},""" +
        s""""shuffle_read_bytes":${sum(_.shuffleReadBytes)},""" +
        s""""shuffle_write_bytes":${sum(_.shuffleWriteBytes)},""" +
        s""""output_bytes":${sum(_.outputBytes)},"unspanned_jobs":$unspannedJobs,""" +
        s""""loadavg":$loadavg$memo,"spans":[""" +
        rows.map(r => "\n    " + r.json).mkString(",") + "]}"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated filter for profiling a subset in isolation
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Each query runs in obs.span(name): the listener attributes every job
    // and stage to its span path, so a query's rows carry its phases
    // (wall, jobs, tasks, task_ms, io bytes) and its totals are their sums.
    // Same bytes + more seconds = host load; more bytes = a plan change.
    spark.sparkContext.addSparkListener(new obs.Listener)
    def settle(): Seq[obs.Row] = {
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark.sparkContext)
      obs.drain()
    }
    // reproducibility: the round-5 builder/driver totals diverged ~2× on
    // identical code — record the knobs that differ between harnesses
    val rt = Runtime.getRuntime
    // 1-minute system loadavg (-1.0 where unsupported): co-tenant load is
    // the recorded 1.2-2x dilation factor between otherwise-identical
    // runs, so the artifact carries the host state at start and end —
    // the load-vs-regression dispute becomes decidable from the numbers
    def loadAvg(): Double = math.rint(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100
    val load0 = loadAvg()
    System.err.println(s"[bench] config: heapMax=${rt.maxMemory() / (1 << 20)}MiB " +
      s"cores=$cpus sf=$sfDir javaVersion=${System.getProperty("java.version")} " +
      s"loadavg=$load0")
    // One-time session warmup, OUTSIDE any timed region: whichever query
    // sorts first otherwise absorbs JVM classloading, the codegen
    // compiler's first compile, shuffle/broadcast machinery init, and the
    // vectorized parquet reader's first open (~3.5 s measured: a10 alone
    // times 4.6 s vs 0.7 s for the same-shaped a6). Those are session
    // costs, not that query's plan cost — a long-lived cluster pays them
    // once, not per query. The warmup plan touches each subsystem.
    locally {
      import org.apache.spark.sql.functions._
      val t = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      t.join(broadcast(t.limit(10).select(col("k").as("k2"))),
          col("k") === col("k2"))
        .groupBy("k").count().queryExecution.toRdd.count()
      spark.read.parquet(s"$sfDir/region.parquet")
        .queryExecution.toRdd.count()
      Sweep.drop(spark)
    }
    settle() // the warmup's rows belong to no query
    // deterministic name order (Map iteration order varies per hash seed);
    // also lets queries that share memoized fitted stages amortize warmup
    // the same way on every run
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // per-query FitMemo attribution: whichever training query runs first
      // pays the shared fits (trio wall swings with zero code change), so
      // the artifact records each query's memo misses (fits it computed)
      // and hits (fits someone else already paid for)
      val (mh0, mm0) = (graft.matching.Matcher.FitMemo.globalHits.get(),
        graft.matching.Matcher.FitMemo.globalMisses.get())
      // toRdd.count() materializes every column of the result (a plain
      // count() would let Catalyst prune the projection away and undercount
      // vector-heavy queries).
      obs.span(name) {
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1L }
      }
      val run = QueryRun(name, settle(),
        graft.matching.Matcher.FitMemo.globalHits.get() - mh0,
        graft.matching.Matcher.FitMemo.globalMisses.get() - mm0, loadAvg())
      // between-query hygiene (OUTSIDE the timed region — the sweep is
      // harness bookkeeping, not query work): drop per-query checkpoint
      // blocks / stray caches and delete consumed per-run qtmp stores, so
      // query N+80 isn't paying GC for query N's leftovers. Memoized
      // stages survive (Sweep.retainNew).
      Sweep.drop(spark)
      run
    }
    locally { // drift-attribution report: totals + the heaviest shufflers
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      def shuffled(r: QueryRun) = r.sum(_.shuffleReadBytes) + r.sum(_.shuffleWriteBytes)
      System.err.println(s"[bench] io total: " +
        s"input=${mb(results.map(_.sum(_.inputBytes)).sum)}MiB " +
        s"shuffleRead=${mb(results.map(_.sum(_.shuffleReadBytes)).sum)}MiB " +
        s"shuffleWrite=${mb(results.map(_.sum(_.shuffleWriteBytes)).sum)}MiB")
      results.sortBy(r => -shuffled(r)).take(12).foreach { r =>
        System.err.println(s"[bench] io ${r.name}: input=${mb(r.sum(_.inputBytes))}MiB " +
          s"shuffleRead=${mb(r.sum(_.shuffleReadBytes))}MiB " +
          s"shuffleWrite=${mb(r.sum(_.shuffleWriteBytes))}MiB")
      }
    }
    val total = results.map(_.sec).sum
    // GC share of the run — distinguishes "heap pressure" from "host
    // load" when totals drift between otherwise-identical runs
    val gcMs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
      .asScala.map(_.getCollectionTime).sum
    val load1 = loadAvg()
    System.err.println(s"[bench] gcTotal=${gcMs}ms of ${(total * 1000).toLong}ms " +
      s"loadavg=$load0->$load1")
    // the 72-query round-2 contract subset's own subtotal — the
    // like-for-like number against the 177.9 s baseline as the suite
    // grows (directive: the 2x gate's denominator is this subset, so
    // record its numerator per run)
    val subsetRows = results.filter(r => ContractSubset(r.name))
    val subsetSec = subsetRows.map(_.sec).sum
    System.err.println(f"[bench] contract subset: ${subsetRows.size} of " +
      f"${ContractSubset.size} baseline queries present, $subsetSec%.1f s")
    // Full attribution artifact, cost-descending, one row per query with
    // its span rows
    locally {
      val perQuery = results.sortBy(-_.sec).map(_.json).mkString("[\n", ",\n", "\n]")
      val body = s"""{"total_sec":$total,"gc_ms":$gcMs,"sf":"$sfDir","cpus":$cpus,
"loadavg_start":$load0,"loadavg_end":$load1,
"contract_subset_sec":$subsetSec,"contract_subset_n":${subsetRows.size},
"queries_cost_desc":$perQuery}"""
      val out = java.nio.file.Paths.get(PerQueryFile).toAbsolutePath
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, body.getBytes("UTF-8"))
      System.err.println(s"[bench] per-query artifact: $out")
    }
    // the last stdout line: one JSON object; the per-query detail lives
    // in the artifact it names
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"gc_ms":$gcMs,"loadavg_start":$load0,"loadavg_end":$load1,"contract_subset_sec":$subsetSec,"contract_subset_n":${subsetRows.size},"n_queries":${results.size},"per_query_file":"$PerQueryFile"}""")
    spark.stop()
  }
}
