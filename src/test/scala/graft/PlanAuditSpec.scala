package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FormattedMode, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape audit (the 100 TB checklist): every plan claim the engine
  * makes is a predicate over the plans that actually RAN. A pick runs its
  * registered query at sf0.001 in a fresh session with a
  * `QueryExecutionListener` attached, so the predicate sees every action
  * the query took — in-query checkpoints, memo builds, cached-frame
  * builds, the final collect — each as its AQE final plan. PLANS.md lists
  * one line per pick, checked against [[PlanAuditSpec.picks]] below. */
class PlanAuditSpec extends SparkSpec {
  import PlanAuditSpec._

  /** Every action `body` runs in a fresh session, as it ran. */
  private def executed(body: SparkSession => Unit): Ran = {
    val s = spark.newSession()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(Action(func, qe))
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      body(s)
      Shim.drainListenerBus(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    Ran(seen.asScala.toSeq)
  }

  private def ran(query: String): Ran =
    executed(s => SparkEntry.queries(query)(s, sf).collect())

  picks.foreach { p =>
    test(p.test) {
      val r = ran(p.name)
      assert(r.actions.nonEmpty, s"${p.name} ran no action")
      assert(p.holds(r), s"${p.name}: ${p.claim}\n${r.formatted}")
    }
  }

  test("every pick is a registered query, listed once") {
    val unknown = picks.map(_.name).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"picks naming no registered query: $unknown")
    assert(picks.map(_.name).distinct.size == picks.size)
  }

  test("PLANS.md lists exactly the picks, with their claims and tests") {
    import scala.jdk.CollectionConverters._
    val doc = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("PLANS.md")).asScala
    val listed = doc.dropWhile(_ != "## Plan claims").drop(1)
      .takeWhile(!_.startsWith("## ")).filter(_.startsWith("- `")).toSeq
    val expected = picks.map(_.line)
    val drift = listed.zipAll(expected, "(none)", "(none)").find { case (l, e) => l != e }
    drift.foreach { case (l, e) => fail(s"PLANS.md reads $l\nthe table reads $e\n" +
      "the table's lines are:\n" + expected.mkString("\n")) }
  }

  test("j3: aliased dimension joins execute as broadcast hash joins") {
    val r = ran("j3_aliased_join")
    assert(r.has("BroadcastHashJoin") && r.lacks("SortMergeJoin") &&
      r.hinted("p_name") && r.hinted("s_name"), r.formatted)
  }

  test("whole-stage codegen spans the scan+filter+project pipeline") {
    val r = ran("p1_clean_cast")
    assert(r.ops.exists(o => o.codegen && o.name == "Project") &&
      r.ops.exists(o => o.codegen && o.name == "ColumnarToRow"), r.formatted)
  }

  test("filtered IVF serve: the allowed-id filter does NOT break the " +
       "probed-cell pruning of the store read") {
    import spark.implicits._
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val c3 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val df = (0 until 18).map { i =>
      (i.toLong, mk(Seq(c1, c2, c3)(i / 6), 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val path = "/root/repo/target/test_tmp/audit_filtered_ivf"
    graft.io.IO.deletePath(path)
    graft.llm.Ann.writeIvfStore(df, path, nCells = 3)
    // nProbe=1 on a 3-cell store: the serve must read ONE data cell even
    // with the filter attached (a filter that forced a full-store read
    // would be the quiet way to lose the pruning at 100 TB)
    val served = graft.llm.Ann.ivfStoreTopK(spark, path,
      df.where("vec_id = 0"), k = 3, nProbe = 1,
      allowedIds = Some(df.where("vec_id % 2 = 0").select("vec_id")))
    served.collect()
    val buckets = served.inputFiles
      .flatMap("__graft_bucket=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).toSet
    assert(buckets.size == 1, s"filtered serve read ${buckets.size} cells: $buckets")
  }

  test("deleteFromVectorStore: the id-locate scan is column-pruned (never " +
       "reads the vectors) and the rewrite lists only touched cells") {
    import spark.implicits._
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val df = (0 until 12).map { i =>
      (i.toLong, mk(if (i < 6) c1 else c2, 0.01f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val path = "/root/repo/target/test_tmp/audit_delete_ivf"
    graft.io.IO.deletePath(path)
    graft.llm.Ann.writeIvfStore(df, path, nCells = 2)
    // the locate frame (same shape deleteFromVectorStore builds): its scan
    // schema must carry nn_id only — the embedding column must be pruned
    // away, or the "cheap id scan" silently reads the whole corpus width
    val located = graft.io.IO.readStoreBuckets(spark, path, Set(0, 1))
      .select(col("nn_id"), col(graft.io.IO.BucketCol))
      .join(broadcast(Seq(1L).toDF("nn_id")), Seq("nn_id"))
    val plan = located.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<nn_id:bigint>"),
      s"locate scan not pruned to the id column:\n$plan")
  }

  test("Bm25Store delete/upsert: the doc-locate scan is column-pruned " +
       "(doc_id + dl only — never the term or tf columns)") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog"), (2L, "dog fish"), (3L, "owl cat dog"))
      .toDF("doc_id", "text")
    val path = "/root/repo/target/test_tmp/audit_bm25_locate"
    graft.io.IO.deletePath(path)
    graft.llm.Bm25Store.write(docs, path, termBuckets = 4)
    // the locate frame (same shape Bm25Store.locateDocs builds): its scan
    // schema must carry doc_id + the denormalized dl only — term/tf and
    // the stats columns must prune away, or the "cheap id scan" reads
    // the full posting width across every term bucket
    val located = graft.io.IO.readStoreBuckets(spark, path, Set(0, 1, 2, 3))
      .select(col("doc_id"), col("dl"), col(graft.io.IO.BucketCol))
      .join(broadcast(Seq(2L).toDF("doc_id")), Seq("doc_id"))
    val plan = located.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,dl:bigint>"),
      s"locate scan not pruned to (doc_id, dl):\n$plan")
  }

  test("storeChangeFeed: scans list ONLY changed bucket directories") {
    import spark.implicits._
    val path = "/root/repo/target/test_tmp/audit_cdc_store"
    graft.io.IO.writePartitionedStore(
      (1 to 64).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 8)
    graft.io.IO.upsertPartitionedStore(spark, path,
      Seq((3L, 300.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    val touched = Seq(3L).toDF("id")
      .select(graft.io.IO.bucketExpr(Seq("id"), 8).as("b")).as[Int].head()
    val plan = graft.io.IO.storeChangeFeed(spark, path, 1, 2, Seq("id"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // both scans' file indexes carry exactly the touched bucket's dirs —
    // the seven untouched buckets never appear in the plan at all
    (0 until 8).filter(_ != touched).foreach { b =>
      assert(!plan.contains(s"__graft_bucket=$b"),
        s"untouched bucket $b listed in:\n$plan")
    }
    assert(plan.contains(s"__graft_bucket=$touched"), plan)
  }
}

object PlanAuditSpec {

  /** One operator that ran. `codegen`: inside a whole-stage-codegen stage;
    * `children`/`below`: the operators it read from, looking through AQE
    * stages, codegen boundaries and cached relations. */
  final class Op(val plan: SparkPlan, val codegen: Boolean, val children: Seq[Op]) {
    def name: String = plan.nodeName
    lazy val text: String = plan.simpleString(Int.MaxValue)
    lazy val below: Seq[Op] = children.flatMap(c => c +: c.below)
    def outputs(col: String): Boolean = plan.output.exists(_.name == col)
  }

  private def ops(p: SparkPlan, codegen: Boolean): Seq[Op] = p match {
    case a: AdaptiveSparkPlanExec => ops(a.executedPlan, codegen)
    case s: QueryStageExec => ops(s.plan, codegen)
    case w: WholeStageCodegenExec => ops(w.child, codegen = true)
    case i: InputAdapter => ops(i.child, codegen = false)
    case c: ColumnarToRowExec => Seq(new Op(c, codegen, ops(c.child, codegen)))
    case m: InMemoryTableScanExec =>
      Seq(new Op(m, codegen, ops(m.relation.cachedPlan, codegen = false)))
    case other =>
      Seq(new Op(other, codegen,
        (other.children ++ other.subqueries).flatMap(ops(_, codegen))))
  }

  /** One captured action: the listener's function name and its execution. */
  final case class Action(func: String, qe: QueryExecution) {
    lazy val roots: Seq[Op] = ops(qe.executedPlan, codegen = false)
    lazy val all: Seq[Op] = roots.flatMap(o => o +: o.below)
  }

  /** The actions one pick ran, and the questions its predicate asks. */
  final case class Ran(actions: Seq[Action]) {
    lazy val ops: Seq[Op] = actions.flatMap(_.all)
    def each: Seq[Ran] = actions.map(a => Ran(Seq(a)))
    /** The actions `sel` picks out: at least one, and each satisfies `p`. */
    def scoped(sel: Ran => Boolean)(p: Ran => Boolean): Boolean = {
      val s = each.filter(sel)
      s.nonEmpty && s.forall(p)
    }

    def has(node: String): Boolean = ops.exists(_.name.contains(node))
    def lacks(node: String): Boolean = !has(node)
    def count(node: String): Int = ops.count(_.name.contains(node))
    def mentions(s: String): Boolean = ops.exists(_.text.contains(s))
    /** `s` appears in an operator inside a whole-stage-codegen stage. */
    def codegen(s: String): Boolean = ops.exists(o => o.codegen && o.text.contains(s))
    def noUdf: Boolean = lacks("BatchEvalPython") &&
      !ops.exists(_.plan.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))
    def allPairs: Boolean = has("CartesianProduct") || has("BroadcastNestedLoopJoin")

    def scans: Seq[FileSourceScanExec] =
      ops.map(_.plan).collect { case s: FileSourceScanExec => s }
    def scanMeta(key: String): Seq[String] = scans.flatMap(_.metadata.get(key))
    /** Bucket directories each store scan lists (empty for a plain table). */
    def scanBuckets: Seq[Set[Int]] = scans.map(_.relation.location.rootPaths
      .flatMap(p => "__graft_bucket=(\\d+)".r.findFirstMatchIn(p.toString))
      .map(_.group(1).toInt).toSet).filter(_.nonEmpty)

    /** Every scan of a store frame carrying `col` lists bucket directories. */
    def storeScansRouted(col: String): Boolean = {
      val store = scans.filter(_.output.exists(_.name == col))
      store.nonEmpty && store.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("__graft_bucket=")))
    }

    def shuffles: Seq[ShuffleExchangeExec] =
      ops.map(_.plan).collect { case e: ShuffleExchangeExec => e }
    private def hashedOn(p: SparkPlan, col: String): Boolean = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == col))
        case _ => false
      }
      case _ => false
    }
    def shuffledOn(col: String): Boolean = shuffles.exists(hashedOn(_, col))
    def rangeShuffles: Int =
      shuffles.count(_.outputPartitioning.isInstanceOf[RangePartitioning])
    /** Every hash shuffle on `col` carries map-side partial aggregates. */
    def combinesBefore(col: String): Boolean = {
      val on = ops.filter(o => hashedOn(o.plan, col))
      on.nonEmpty && on.forall(_.children.exists(c =>
        c.name.contains("Aggregate") && c.text.contains("partial_")))
    }

    /** A hash or sort-merge join keyed on `col`. */
    def equiJoinOn(col: String): Boolean = ops.map(_.plan).exists {
      case j: BaseJoinExec if !j.isInstanceOf[BroadcastNestedLoopJoinExec] &&
          !j.isInstanceOf[CartesianProductExec] =>
        j.leftKeys.exists(_.references.exists(_.name == col))
      case _ => false
    }
    /** A broadcast exchange that carries column `col` ran. */
    def broadcasts(col: String): Boolean =
      ops.exists(o => o.name == "BroadcastExchange" && o.outputs(col))
    /** Every join in the actions' optimized plans, cached frames' included. */
    private lazy val joins: Seq[Join] = {
      def of(p: LogicalPlan): Seq[Join] = p.collect { case j: Join => j } ++
        p.collect { case m: InMemoryRelation => of(m.cacheBuilder.logicalPlan) }.flatten
      actions.flatMap(a => of(a.qe.optimizedPlan))
    }
    private def bc(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
    private def reads(j: Join, key: String) =
      j.condition.exists(_.references.exists(_.name == key))
    /** `col`'s side is broadcast BY CONSTRUCTION: it carries a broadcast
      * hint, so no size estimate of this fixture decides it. With `on`,
      * only a join whose condition reads that column counts. */
    def hinted(col: String, on: String = ""): Boolean = broadcasts(col) && joins.exists(j =>
      (on.isEmpty || reads(j, on)) &&
        (bc(j.hint.leftHint) && j.left.output.exists(_.name == col) ||
          bc(j.hint.rightHint) && j.right.output.exists(_.name == col)))
    /** A join whose condition reads `key` carries a broadcast hint. */
    def hintedJoinOn(key: String): Boolean = joins.exists(j =>
      reads(j, key) && (bc(j.hint.leftHint) || bc(j.hint.rightHint)))

    def formatted: String = actions.map(a =>
      s"-- ${a.func}\n${a.qe.explainString(FormattedMode)}").mkString("\n")
  }

  /** One plan claim: the query it is made of, what it says, and the
    * predicate that must hold over the actions the query ran. `title`
    * names the ScalaTest case when it is not the query name. */
  final case class Pick(name: String, claim: String, title: String = "")(
      val holds: Ran => Boolean) {
    def test: String = if (title.isEmpty) name else title
    def line: String = s"- `$name` — $claim (PlanAuditSpec: \"$test\")"
  }

  val picks: Seq[Pick] = Seq(
    Pick("p5_filter", "predicate pushdown reaches the parquet scan (PushedFilters)",
        "s4/p5: predicate pushed to parquet scan")(r =>
      r.scanMeta("PushedFilters").exists(f => f.contains("p_size") && f.contains("p_brand"))),
    Pick("s4_table_scan", "column pruning: the scan's ReadSchema carries only projected columns",
        "s4: column pruning — scan reads only referenced columns")(r =>
      r.scanMeta("ReadSchema").nonEmpty && !r.mentions("p_retailprice")),
    Pick("j1_threeway_join", "both dimension joins are hinted BroadcastHashJoins — no sort-merge",
        "j1/j3: dimension joins execute as broadcast hash joins")(r =>
      r.count("BroadcastHashJoin") == 2 && r.lacks("SortMergeJoin") &&
        r.hinted("n_name") && r.hinted("r_name")),
    Pick("w1_class_ratio", "global ratio as aggregate + broadcast total — no single-partition Window")(r =>
      r.lacks("Window") && r.broadcasts("total_instances")),
    Pick("u1_union_all", "union is a bag concat — zero Exchange",
        "u1: union is a no-shuffle bag concat")(r =>
      r.has("Union") && r.lacks("Exchange")),
    Pick("p9_limit", "ordered limit collapses to TakeOrderedAndProject (top-k)",
        "limit with order collapses to TakeOrderedAndProject (top-k)")(r =>
      r.has("TakeOrderedAndProject") && r.lacks("Exchange")),
    Pick("x1_sqdist", "squared_dist is a native expression inside a WholeStageCodegen stage")(r =>
      r.codegen("squared_dist(") && r.lacks("BatchEvalPython")),
    Pick("dd_ngram_jaccard", "near-dup as a shingle equi-join + count aggregate — no all-pairs join")(r =>
      r.equiJoinOn("shingle") && !r.allPairs && r.combinesBefore("idA")),
    Pick("ann_brute_topk", "query side is hint-broadcast; per-query top-k via a window keyed on query_id")(r =>
      r.hinted("qv") && r.has("Window") && r.shuffledOn("query_id")),
    Pick("dd_minhash", "banded signature equi-join; only (idA, idB) — 16-byte rows — cross the distinct")(r =>
      r.equiJoinOn("band_key") && !r.has("CartesianProduct") &&
        r.shuffles.exists(_.output.map(_.name) == Seq("idA", "idB"))),
    Pick("j7_asof_join", "as-of join as union + keyed window: the union shuffles once, on the key — no join at all")(r =>
      r.has("Union") && r.has("Window") && r.lacks("Join") && r.shuffledOn("__key")),
    Pick("j8_range_band", "interval table broadcast; fact side streams through a nested-loop join")(r =>
      r.has("BroadcastNestedLoopJoin") && r.broadcasts("lo") && r.lacks("CartesianProduct")),
    Pick("s7_partition_pruned", "partition filter prunes the read to one directory before the scan")(r =>
      r.scans.exists(s => s.partitionFilters.nonEmpty &&
        s.metrics.get("numPartitions").exists(_.value == 1))),
    Pick("a11_weighted_mean", "custom UDAF partial-combines map-side: partial + final aggregate around ONE exchange")(r =>
      r.mentions("partial_weightedmean") && r.count("ObjectHashAggregate") == 2 && r.shuffles.size == 1),
    Pick("x4_exists_subquery", "correlated EXISTS / NOT EXISTS decorrelate to semi / anti joins")(r =>
      r.mentions("LeftSemi") && r.mentions("LeftAnti") && !r.allPairs && r.lacks("Subquery")),
    Pick("dd_curate", "curation gates are one filter on the document scan — only survivors reach the dedup shuffles")(r =>
      r.ops.exists(_.name == "Filter") && r.ops.filter(o => o.name == "Filter" &&
        o.children.exists(c => c.name == "ColumnarToRow" &&
          c.below.exists(_.outputs("text")))).forall(_.text.contains("= en)")) &&
        r.shuffles.forall(!_.output.exists(_.name == "text"))),
    Pick("tx_mixture", "deterministic sampling is a scan-side filter — zero Exchange, zero UDF",
        "tx_mixture: hash sampling is a pure scan-side filter — no shuffle, no UDF")(r =>
      r.lacks("Exchange") && r.noUdf && r.codegen("md5(")),
    Pick("dd_decontam", "benchmark shingle side is hint-broadcast; the contamination check runs map-side",
        "dd_decontam: benchmark shingle side broadcasts (contamination check map-side)")(r =>
      r.has("BroadcastHashJoin") && r.hinted("nB") && r.equiJoinOn("shingle")),
    Pick("tx_pack", "packing = ONE exchange on group + sort-within-partitions + one sequential pass")(r =>
      r.shuffles.size == 1 && r.shuffledOn("group") && r.has("MapPartitions") &&
        r.rangeShuffles == 0),
    Pick("tx_chunk", "chunking is a scan-side generator (sequence → posexplode → substr), no shuffle")(r =>
      r.codegen("posexplode(sequence(") && r.lacks("Exchange")),
    Pick("ann_quantize", "quantization is one narrow projection over the scan — no exchange, no join")(r =>
      r.lacks("Exchange") && r.lacks("Join")),
    Pick("dd_boilerplate", "gram df aggregates on an 8-byte hash; the hot set joins back — no all-pairs")(r =>
      r.combinesBefore("gh") && r.equiJoinOn("gh") && !r.allPairs),
    Pick("ann_ivf_store", "IVF serve: the store scan's file list is the routed cells' bucket directories, " +
        "never the store root; the probes are hint-broadcast to it")(r =>
      r.hinted("qv", on = "cell") && r.equiJoinOn("cell") && r.storeScansRouted("cv")),
    Pick("ann_ivfpq_store", "IVF-PQ serve: the scan reads only probed cells' code rows; ADC shortlist windows on codes; " +
        "full-precision floats join back to refine·k survivors only")(r =>
      r.codegen("pq_adc(") && r.mentions("WindowGroupLimit") && r.equiJoinOn("nn_id") &&
        r.storeScansRouted("codes") && {
          val b = r.scanBuckets
          b.exists(s => b.exists(t => s.subsetOf(t) && s != t))
        }),
    Pick("tx_pii_scrub", "PII redaction is a scan-side codegen projection — zero shuffle, zero UDF")(r =>
      r.lacks("Exchange") && r.noUdf && r.ops.filter(_.name == "Project").forall(_.codegen)),
    Pick("tx_unigram_lp", "vocab aggregate partial-combines on token; the scoring re-join broadcasts the vocab")(r =>
      r.combinesBefore("tok") && r.broadcasts("tf") && r.equiJoinOn("tok")),
    Pick("tx_shuffle_shard", "export shuffle = ONE hash exchange on shard + per-shard sort; no global sort")(r =>
      r.shuffles.size == 1 && r.shuffledOn("shard") && r.rangeShuffles == 0),
    Pick("tx_cap_sample", "per-stratum cap: broadcast rates drive a scan-side prefilter; the window sees bounded survivors")(r =>
      r.broadcasts("__cutoff") && r.shuffledOn("source") && r.has("WindowGroupLimit")),
    Pick("tx_source_kl", "KL report: partial-combining aggregates over one exploded pass; vocab re-joins broadcast")(r =>
      r.combinesBefore("tok") && r.combinesBefore("grp") && r.broadcasts("tf") &&
        r.lacks("CartesianProduct")),
    Pick("dd_substring", "substring spans: window-frequency aggregate + hot join on 8-byte hashes; island window per doc — " +
        "no cartesian, no global sort",
        "dd_substring: window-hash shuffles only — no cartesian, no global sort")(r =>
      r.lacks("CartesianProduct") && r.shuffles.nonEmpty &&
        r.shuffles.forall(_.outputPartitioning.isInstanceOf[HashPartitioning]) &&
        r.equiJoinOn("wh")),
    Pick("tx_temperature_mix", "temperature mix: integer quotas broadcast to a scan-side prefilter; per-source window on bounded survivors",
        "tx_temperature_mix: quota side broadcasts; window partitions by source")(r =>
      r.broadcasts("__k") && r.shuffledOn("source") && r.rangeShuffles == 0),
    Pick("dd_bloom_decontam", "bloom decontam: map-side Bloom screen; the exact shingle join confirms suspects only",
        "dd_bloom_decontam: no cartesian; exact confirm join is shingle-keyed")(r =>
      r.lacks("CartesianProduct") && r.equiJoinOn("shingle") && r.mentions("bloom_filter_agg")),
    Pick("tx_vocab", "vocab report: token-count aggregate partial-combines; top-k via TakeOrdered; the rank window sees only k rows",
        "tx_vocab: top-k via TakeOrdered, never a global sort of the corpus")(r =>
      r.has("TakeOrderedAndProject") && r.rangeShuffles == 0 && r.combinesBefore("token")),
    Pick("tx_quality_model", "quality-model features: ten signals in ONE fused projection chain — no joins, no exchange below the feature frame",
        "quality-model features: one fused projection — no joins, no Exchange")(r => {
      val features = r.ops.filter(o => o.name == "InMemoryTableScan" && o.outputs("char_entropy"))
      features.nonEmpty && features.forall(_.below.forall(b =>
        !b.name.contains("Exchange") && !b.name.contains("Join")))
    }),
    Pick("ann_cluster_report", "cluster report: centroids broadcast, assignment map-side; the only cell exchange carries partial aggregates",
        "ann_cluster_report: centroids broadcast; no cartesian")(r =>
      r.has("BroadcastHashJoin") && r.broadcasts("centroid") && r.lacks("CartesianProduct") &&
        r.combinesBefore("cell")),
    Pick("tx_bigram_lp", "bigram LM: previous token by array index (no lag window); count tables partial-combine and join vocab-sized",
        "tx_bigram_lp: no cartesian, no lag-window shuffle for bigram formation")(r =>
      r.lacks("CartesianProduct") && r.lacks("Window") && r.combinesBefore("tok")),
    Pick("tx_export_shards", "export writer: the rows shuffle ONCE by shard into the writer and sort within partitions by (shard, pos) — no global sort")(r =>
      r.scoped(_.has("WriteFiles")) { w =>
        w.shuffles.count(_.shuffleOrigin.toString == "REPARTITION_BY_NUM") == 1 &&
          w.shuffledOn("shard") && w.rangeShuffles == 0 &&
          w.ops.exists(o => o.name == "Sort" && o.text.contains("shard") && o.text.contains("pos"))
      }),
    Pick("x7_lateral_topk", "correlated LATERAL LIMIT decorrelates to a ranked window + equi-join — executed once, no per-row subquery",
        "x7_lateral_topk: correlated LIMIT decorrelates — no per-row re-execution")(r =>
      r.lacks("CartesianProduct") && (r.has("Window") || r.has("GroupLimit")) &&
        r.equiJoinOn("c_custkey") && r.lacks("Subquery")),
    Pick("f8_hashing_tf_counts", "vector invariants via the one-pass vec_stats kernel — no vector_to_array densify of the 2^18-dim space",
        "f8: vector invariants via vec_stats, not a vector_to_array densify")(r =>
      r.codegen("vec_stats(") && !r.mentions("vector_to_array")),
    Pick("ann_range_search", "radius search: hint-broadcast query side + codegen cosine filter — no shuffle, not even a window")(r =>
      r.hinted("qv") && r.codegen("cosine_sim(") && r.shuffles.isEmpty && r.lacks("Window")),
    Pick("ann_knn_graph", "corpus k-NN graph: per-node probes equi-join cell members on the cell key — no all-pairs join, " +
        "and no broadcast hint on either corpus-sized side")(r =>
      r.equiJoinOn("cell") && !r.hintedJoinOn("cell")),
    Pick("tx_normalize", "normalization is ONE codegen projection (native NFC expression + regex chain) — zero shuffle, zero UDF",
        "tx_normalize: one codegen projection — no shuffle, no ScalaUDF")(r =>
      r.lacks("Exchange") && r.noUdf && r.codegen("nfc_normalize(")),
    Pick("dd_segment", "segment dedup: window keyed on segment text + one doc-keyed reassembly aggregate — two linear exchanges, no cartesian")(r =>
      r.shuffles.size == 2 && r.shuffledOn("seg_text") && r.shuffledOn("doc_id") && !r.allPairs),
    Pick("dd_semantic_decontam", "semantic decontam: the benchmark side broadcasts; the corpus is screened map-side through the codegen cosine kernel",
        "dd_semantic_decontam: benchmark broadcasts; corpus screened map-side")(r =>
      (r.has("BroadcastNestedLoopJoin") || r.has("BroadcastHashJoin")) && r.broadcasts("bv") &&
        r.lacks("SortMergeJoin") && r.lacks("CartesianProduct") && r.codegen("cosine_sim(")),
    Pick("j9_edit_join", "edit-distance join: deletion-neighborhood EQUI-join on an 8-byte signature hash — never an all-pairs theta join",
        "j9_edit_join: deletion-neighborhood EQUI-join, never all-pairs")(r =>
      !r.allPairs && r.equiJoinOn("sig") && r.mentions("xxhash64")),
    Pick("j10_sorted_neighborhood", "sorted-neighborhood blocking: ONE checkpointed range exchange for the global rank " +
        "(positions decode from monotonically_increasing_id — zero Window nodes), pairs via a position-bucket equi-join")(r =>
      r.rangeShuffles == 1 && r.scoped(_.actions.head.func == "localCheckpoint")(_.rangeShuffles == 1) &&
        r.lacks("Window") && r.equiJoinOn("bucket")),
    Pick("w4_scd2", "SCD2 history: every window and the run collapse key on the entity — the whole build is ONE hash exchange")(r =>
      r.shuffles.size == 1 && r.shuffledOn("o_custkey") && r.has("Window")),
    Pick("s12_change_feed", "CDC diff: both sides scan ONLY the buckets whose manifest entry changed; one key-keyed full-outer join per step, " +
        "events explode scan-side")(r =>
      r.scoped(_.mentions("FullOuter")) { f =>
        f.scanBuckets.nonEmpty && f.scanBuckets.grouped(2).forall(p => p.distinct.size == 1)
      } && r.scanBuckets.exists(_.size < 16) && r.has("Generate")),
    Pick("s13_zorder_layout", "Z-order re-layout: width_bucket codes + Morton shift/mask interleave in one codegen projection; " +
        "the only exchange is the range partitioning on the Z-value",
        "zorder: one range exchange, Morton value codegen, no UDF")(r =>
      r.scoped(_.mentions("__graft_zval")) { w =>
        w.rangeShuffles == 1 && w.count("Exchange") == 1 && w.noUdf &&
          w.codegen("width_bucket(") && w.codegen("shiftleft(")
      }),
    Pick("j11_jaro_winkler", "Jaro-Winkler via the native codegen expression inside the residue equi-join — no UDF, no cartesian")(r =>
      r.codegen("jaro_winkler(") && r.noUdf && r.equiJoinOn("g") && !r.allPairs),
    Pick("j12_bucketed_range", "bucketed range join: grid EQUI-join with a scan-side interval explode + residual bound filter — no nested-loop join")(r =>
      r.equiJoinOn("__rbucket") && !r.allPairs && r.has("Generate")),
    Pick("dq_profile", "column profile: ONE scan, every metric partial-combines; the exact-distinct Expand is the only widening")(r =>
      r.scans.size == 1 && r.count("Expand") == 1 && r.mentions("partial_")),
    Pick("tx_bm25", "BM25: per-term tf is a scan-side projection (no token explode); N/avgdl/df partial-combine to ONE broadcast row — " +
        "two scans, zero hash exchanges")(r =>
      r.lacks("Generate") && r.scans.size == 2 && r.has("BroadcastNestedLoopJoin") &&
        r.shuffles.forall(_.outputPartitioning == SinglePartition)),
    Pick("tx_rrf_fusion", "hybrid RRF: both rank lists are top-m bounded by their producers (TakeOrdered / per-query window), " +
        "so the fusion exchange carries <= 2m tiny rows")(r =>
      r.mentions("TakeOrderedAndProject(limit=50") && r.mentions("row_number(), 50,") &&
        r.scoped(_.has("Union"))(_.shuffledOn("doc_id"))))
}
