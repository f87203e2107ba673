package erbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.llm.{Ann, Bm25Store, TextAnalysis}

/** The persisted BM25 and IVF-PQ stores under one closed-loop client that
  * mixes hybrid query batches with upserts and deletes. */
final class SearchServe extends Workload {
  import SearchServe._

  val measuredOp = "search_serve.query"

  final case class State(bm25: String, pq: String, corpus: Gen.Corpus)

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    val corpus = GenCheck.corpus(ctx.seed, Docs, Clusters)
    val dir = ctx.dir("setup")
    Bm25Store.write(docsFrame(spark, corpus.texts.toSeq), s"$dir/bm25", termBuckets = TermBuckets)
    Ann.writeIvfPqStore(vecsFrame(spark, corpus.vecs.toSeq), s"$dir/pq", nCells = Cells,
      m = PqM, ksub = 32, seed = ctx.seed)
    State(s"$dir/bm25", s"$dir/pq", corpus)
  }

  def run(ctx: Ctx, st: State): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val r = new SplittableRandom(ctx.seed * 17 + 3)
    val c = st.corpus
    val vocab = Gen.vocabulary(Gen.VocabSize)
    val textGen = new Gen.TextGen(vocab, new Gen.Zipf(Gen.VocabSize, Gen.ZipfS))
    val texts = mutable.HashMap(c.texts.toSeq: _*)
    val vecs = mutable.HashMap(c.vecs.toSeq: _*)
    val cluster = mutable.HashMap(c.cluster.toSeq: _*)
    var nextDoc = c.texts.size.toLong
    var nextQuery = QueryIdBase
    val qLat = mutable.ArrayBuffer[Double]()
    val mLat = mutable.ArrayBuffer[Double]()
    var warmup = true
    /** A sampled latency, dropped while warming up. */
    def sample(into: mutable.ArrayBuffer[Double], t0: Long): Unit =
      if (!warmup) into += (System.nanoTime() - t0) / 1e6
    def opName(kind: String): String = s"search_serve.$kind${if (warmup) ".warmup" else ""}"
    var annRecall = Stats.Ratio.Zero
    var hit1 = Stats.Ratio.Zero

    def live: Vector[Long] = texts.keys.toVector.sorted

    /** A query planted on a live document: its three rarest terms and its
      * vector with a little noise. */
    def query(): (Long, Long, Seq[String], Array[Double]) = {
      val ids = live
      val target = ids(r.nextInt(ids.size))
      val terms = texts(target).split(" ").distinct.sortBy(w => -c.termRank(w)).take(3).toSeq
      nextQuery += 1
      (nextQuery, target, terms, Gen.noisy(r, vecs(target), 0.02))
    }

    def queryBatch(opId: Int): Unit = {
      val qs = (0 until QueryBatch).map(_ => query())
      val qTerms = termsFrame(spark, qs.map(q => (q._1, q._3)))
      val qVecs = vecsFrame(spark, qs.map(q => (q._1, q._4)))
      val liveNow = texts.keySet.toSet
      ctx.attempt("query batch") { chk =>
        val t0 = System.nanoTime()
        val (lex, sem, fused) = t.op(opId, opName("query")) {
          val lex = t.span("llm.bm25.serve") {
            Bm25Store.topKBatch(spark, st.bm25, qTerms, k = K)
              .select("query_id", "doc_id", "rank").collect()
              .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
          }
          val sem = t.span("llm.ann.serve") {
            Ann.ivfPqStoreTopK(spark, st.pq, qVecs, k = K, nProbe = NProbe, refine = Refine)
              .select("query_id", "nn_id", "rank").collect()
              .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
          }
          val fused = t.span("llm.rrf") {
            Ann.rrfFuseBatch(Seq(ranked(spark, lex.toSeq), ranked(spark, sem.toSeq)))
              .select("query_id", "doc_id", "rrf").collect()
              .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
          }
          (lex, sem, fused)
        }
        sample(qLat, t0)
        chk.require(lex.forall(x => liveNow(x._2)), "lexical arm served a deleted doc")
        chk.require(sem.forall(x => liveNow(x._2)), "semantic arm served a deleted doc")
        chk.require((lex ++ sem).forall(x => x._3 >= 1 && x._3 <= K), "rank outside 1..k")
        val armIds = (lex ++ sem).map(x => (x._1, x._2)).toSet
        chk.require(fused.forall(x => armIds((x._1, x._2))), "fused doc not in either arm")
        val semBy = sem.groupBy(_._1)
        val fusedBy = fused.groupBy(_._1)
        val liveVecs = vecs.toVector
        qs.foreach { case (qid, target, _, qv) =>
          val exact = liveVecs.map { case (id, v) => (id, dot(v, qv)) }
            .sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
          val served = semBy.getOrElse(qid, Array.empty).map(_._2).toSet
          annRecall += Stats.Ratio(served.count(exact).toDouble, exact.size.toDouble)
          val top = fusedBy.getOrElse(qid, Array.empty).sortBy(x => (-x._3, x._2)).headOption
          hit1 += Stats.Ratio(if (top.exists(_._2 == target)) 1.0 else 0.0, 1.0)
        }
      }
    }

    /** Re-index and re-embed some live docs and add new ones. */
    def upsert(opId: Int): Unit = {
      val ids = live
      val replaced = (0 until MutateDocs).map(_ => ids(r.nextInt(ids.size))).distinct
      val added = (0 until MutateDocs).map { _ => nextDoc += 1; nextDoc }
      val rows = (replaced ++ added).map { id =>
        val cl = cluster.getOrElse(id, r.nextInt(c.clusters.size))
        (id, textGen.doc(r), Gen.noisy(r, c.clusters(cl), Gen.Sigma), cl)
      }
      val docs = docsFrame(spark, rows.map(x => (x._1, x._2)))
      val vs = vecsFrame(spark, rows.map(x => (x._1, x._3)))
      ctx.attempt("upsert") { _ =>
        val t0 = System.nanoTime()
        t.op(opId, opName("upsert")) {
          t.span("llm.bm25.upsert") { Bm25Store.upsert(docs, st.bm25) }
          t.span("llm.ann.upsert") { Ann.upsertVectorStore(vs, st.pq) }
        }
        sample(mLat, t0)
        rows.foreach { case (id, text, v, cl) => texts(id) = text; vecs(id) = v; cluster(id) = cl }
      }
    }

    def delete(opId: Int): Unit = {
      val ids = live
      val gone = (0 until MutateDocs).map(_ => ids(r.nextInt(ids.size))).distinct
      import spark.implicits._
      val docIds = gone.toDF("doc_id")
      val vecIds = gone.toDF("vec_id")
      ctx.attempt("delete") { _ =>
        val t0 = System.nanoTime()
        t.op(opId, opName("delete")) {
          t.span("llm.bm25.delete") { Bm25Store.delete(spark, st.bm25, docIds) }
          t.span("llm.ann.delete") { Ann.deleteFromVectorStore(spark, st.pq, vecIds) }
        }
        sample(mLat, t0)
        gone.foreach { id => texts.remove(id); vecs.remove(id); cluster.remove(id) }
      }
    }

    def runOp(kind: Char, opId: Int): Unit = kind match {
      case 'Q' => queryBatch(opId)
      case 'U' => upsert(opId)
      case 'D' => delete(opId)
    }

    Warmup.zipWithIndex.foreach { case (kind, i) => runOp(kind, i) }
    warmup = false
    val (attempted0, failed0) = (ctx.attempted, ctx.failed)
    // whole mixes, at least MinMixes; the counts, not --seconds, bound the
    // loop unless the operations get much faster
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (i < MinMixes * Mix.size || System.nanoTime() < deadline || i % Mix.size != 0) {
      runOp(Mix(i % Mix.size), Warmup.length + i)
      i += 1
    }
    val ops = (ctx.attempted - attempted0) - (ctx.failed - failed0)
    val busyS = (qLat.sum + mLat.sum) / 1e3

    // end of run: served BM25 scores must equal a full-scan recomputation
    // over the benchmark's own model of the final corpus
    val finalDocs = docsFrame(spark, texts.toSeq).cache()
    val terms = (0 until ParityQueries).flatMap(_ => query()._3).distinct
    ctx.attempt("bm25 parity") { chk =>
      def scores(df: DataFrame): Map[Long, (Int, Double)] = df.collect()
        .map((x: Row) => x.getAs[Long]("doc_id") ->
          (x.getAs[Int]("n_hit_terms"), x.getAs[Double]("bm25"))).toMap
      val served = scores(Bm25Store.scores(spark, st.bm25, terms))
      val full = scores(TextAnalysis.bm25(finalDocs, terms))
      chk.require(served.nonEmpty, s"no doc matched $terms")
      chk.require(served == full, s"served BM25 differs from the full scan for $terms " +
        s"(${served.size} vs ${full.size} docs)")
    }
    finalDocs.unpersist()

    val qp50 = if (qLat.isEmpty) Double.NaN else Stats.median(qLat.toSeq)
    val qp90 = if (qLat.isEmpty) Double.NaN else Stats.percentile(qLat.toSeq, 90.0)
    val mp50 = if (mLat.isEmpty) Double.NaN else Stats.median(mLat.toSeq)
    val tail = Stats.tail(qLat.toSeq)
    Outcome(
      e2e = Map("op_p50_ms" -> qp50, "work_per_s" -> ops / busyS,
        "recall" -> annRecall.value, "precision" -> hit1.value),
      named = Seq(
        Metric("query_p50_ms", qp50, "ms",
          s"n=${qLat.size} after the warm-up $Warmup, $QueryBatch queries per batch"),
        Metric("query_p90_ms", qp90, "ms",
          s"n=${qLat.size}, ${Stats.beyond(qLat.size, 90.0)} beyond; highest supported: " +
            tail.map(x => s"p${x.pct}").getOrElse("none")),
        Metric("mutation_p50_ms", mp50, "ms", s"n=${mLat.size}, $MutateDocs docs per mutation"),
        Metric("ops_per_s", ops / busyS, "1/s", f"$ops ops in $busyS%.1f s of operations, mix $Mix"),
        Metric("ann_recall_at_10", annRecall.value, "ratio",
          s"${annRecall.num.toLong}/${annRecall.den.toLong} exact neighbours served"),
        Metric("hybrid_hit_at_1", hit1.value, "ratio",
          s"${hit1.num.toLong}/${hit1.den.toLong} planted targets ranked first")),
      layer = Map("queries_per_batch" -> QueryBatch.toDouble),
      info = Map("generator" -> c.props, "query_ms" -> qLat.toSeq, "mutation_ms" -> mLat.toSeq,
        "ann_recall_at_10" -> annRecall, "hybrid_hit_at_1" -> hit1, "tail" -> tail,
        "live_docs" -> texts.size))
  }
}

object SearchServe {
  val Docs = 3000
  val Clusters = 24
  val TermBuckets = 16
  val Cells = 16
  val NProbe = 8
  val PqM = 16
  val Refine = 8
  val K = 10
  val QueryBatch = 16
  val MutateDocs = 4
  /** Planted queries whose terms, together, the end-of-run BM25 check
    * scores. */
  val ParityQueries = 3
  val QueryIdBase = 1000000000L
  /** Closed-loop operation mix: Q query batch, U upsert, D delete. A
    * chosen read-heavy ratio, not one taken from a measured trace. */
  val Mix: String = "QQUQQD"
  val MinMixes = 1
  /** Unsampled operations before the mix: one of each kind, then two more
    * query batches, because query latency is still falling after the
    * first few. */
  val Warmup: String = "QUDQQ"

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  def vecsFrame(spark: SparkSession, vs: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  def termsFrame(spark: SparkSession, qs: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "terms")
  }

  def ranked(spark: SparkSession, rows: Seq[(Long, Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("query_id", "doc_id", "rank")
  }
}
