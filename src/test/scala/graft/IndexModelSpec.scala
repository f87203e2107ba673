package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Bm25Store, TextAnalysis}

/** Model-based tests of the two SERVING index stores — the
  * [[StoreModelSpec]] pattern applied where routed-compensation bugs
  * actually live: a SEEDED random sequence of maintenance ops runs
  * against the persisted index and a naive in-memory model, and after
  * EVERY commit the index must serve exactly what a from-scratch
  * build/scan over the model would. Interleavings are the point — a
  * single-op test cannot catch a delete whose stats compensation only
  * drifts after a later upsert relocates the same doc, or an upsert
  * landing in a cell a refresh just re-routed. */
class IndexModelSpec extends SparkSpec {
  import spark.implicits._

  // deterministic non-degenerate vectors: nonzero, finite, dim 4
  private def vec(rnd: Random): Seq[Double] =
    Seq.fill(4)(rnd.nextInt(19) - 9.0).map(x => if (x == 0.0) 1.0 else x)

  test("IVF store: random {append, delete, upsert, compact, refresh} " +
       "sequence — content, routing, and full-probe serve equal the " +
       "in-memory model at every commit") {
    val rnd = new Random(20260815L)
    val path = "/root/repo/target/test_tmp/model_ivf"
    graft.io.IO.deletePath(path)
    var model: Map[Long, Seq[Double]] =
      (1L to 40L).map(i => i -> vec(rnd)).toMap
    var nextId = 1000L
    Ann.writeIvfStore(model.toSeq.toDF("vec_id", "embedding"), path,
      nCells = 6)
    // fixed query set, ids OUTSIDE the corpus id space so self-exclusion
    // never triggers; the serve check is the full-probe theorem — probed
    // top-k at nProbe = nCells equals the brute top-k over the model
    val queries = Seq(900001L -> vec(rnd), 900002L -> vec(rnd),
      900003L -> vec(rnd)).toDF("vec_id", "embedding").localCheckpoint()
    def modelDf = model.toSeq.toDF("vec_id", "embedding")
    def check(step: Int): Unit = {
      // content: the store's (id, vector) rows ARE the model
      val got = Ann.readIvfStore(spark, path)
        .select("nn_id", "cv").as[(Long, Seq[Double])].collect()
      assert(got.length == model.size && got.toMap == model,
        s"step $step: store content diverged from the model")
      // routing: every row sits in the cell the STORE's current
      // centroids assign (refresh swaps centroids; rows must follow)
      val misrouted = Ann.readIvfStore(spark, path).select("nn_id", "cell")
        .exceptAll(Ann.assignCells(modelDf, Ann.readCentroids(spark, path))
          .select("nn_id", "cell")).count()
      assert(misrouted == 0L, s"step $step: $misrouted rows misrouted")
      // serve: full-probe == brute over the model (exact, value-level)
      val nCells = graft.io.IO.storeBuckets(path) - 1
      val served = Ann.ivfStoreTopK(spark, path, queries, k = 5,
          nProbe = nCells)
        .select("query_id", "nn_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val brute = Ann.bruteTopK(modelDf, queries, k = 5)
        .select("query_id", "nn_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(served == brute, s"step $step: full-probe serve != brute")
    }
    check(0)
    for (step <- 1 to 8) {
      rnd.nextInt(5) match {
        case 0 => // append brand-new ids
          val rows = (1 to 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1; nextId -> vec(rnd)
          }
          Ann.appendVectorStore(rows.toDF("vec_id", "embedding"), path)
          model ++= rows
        case 1 => // delete existing + a missing id (no-op part)
          val dels = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4)) :+ 999999L
          Ann.deleteFromVectorStore(spark, path, dels.toDF("vec_id"))
          model --= dels
        case 2 => // re-embed some existing, insert some new — one commit
          val ups = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
            .map(k => k -> vec(rnd))
          val ins = (1 to rnd.nextInt(3)).map { _ =>
            nextId += 1; nextId -> vec(rnd)
          }
          Ann.upsertVectorStore((ups ++ ins).toDF("vec_id", "embedding"), path)
          model = model ++ ups ++ ins
        case 3 => // compact: content byte-identical, invisible to serves
          Ann.compactIvfStore(spark, path)
        case 4 => // forced quantizer refit + re-route, one commit
          Ann.refreshIvfStore(spark, path, force = true)
      }
      check(step)
    }
  }

  test("BM25 store: random {append, delete, upsert, compact} sequence " +
       "with token-less and null-text docs — pruned serve equals the " +
       "independent full-scan recompute bit-for-bit at every commit, " +
       "and n_docs stays exact") {
    val rnd = new Random(20260815L)
    val words = Vector("cat", "dog", "fish", "bird", "owl", "bat", "fox")
    def text(rnd: Random): String = rnd.nextInt(10) match {
      case 0 => null                  // null text: counted, no surface
      case 1 => "!!!"                 // token-less surface (dl = 0)
      case _ => Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    val path = "/root/repo/target/test_tmp/model_bm25"
    graft.io.IO.deletePath(path)
    var model: Map[Long, String] = (1L to 30L).map(i => i -> text(rnd)).toMap
    var nextId = 1000L
    Bm25Store.write(model.toSeq.toDF("doc_id", "text"), path, termBuckets = 8)
    val probeTerms = words :+ "nosuchterm"
    def check(step: Int): Unit = {
      val modelDf = model.toSeq.toDF("doc_id", "text")
      // serve == the independent full-scan recompute (different impl:
      // per-term projection + wide pivot) on the model corpus
      val served = Bm25Store.scores(spark, path, probeTerms)
        .as[(Long, Int, Double)].collect().toSet
      val scan = TextAnalysis.bm25(modelDf, probeTerms)
        .as[(Long, Int, Double)].collect().toSet
      assert(served == scan, s"step $step: pruned serve != full-scan " +
        s"recompute (served ${served.size}, scan ${scan.size} rows)")
      // n_docs exactness — the registry-row guarantee: token-less and
      // null-text docs count in and out precisely
      val nBuckets = graft.io.IO.storeBuckets(path)
      val nDocs = graft.io.IO.readStoreBuckets(spark, path, Set(nBuckets - 1))
        .agg(coalesce(sum("n_docs"), lit(0L))).as[Long].head()
      assert(nDocs == model.size,
        s"step $step: stats n_docs $nDocs != model ${model.size}")
    }
    check(0)
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 => // append brand-new ids (null/token-less included)
          val rows = (1 to 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1; nextId -> text(rnd)
          }
          Bm25Store.append(rows.toDF("doc_id", "text"), path)
          model ++= rows
        case 1 => // delete existing (token-less included) + a missing id
          val dels = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4)) :+ 999999L
          Bm25Store.delete(spark, path, dels.toDF("doc_id"))
          model --= dels
        case 2 => // re-index some existing (possibly TO token-less),
                  // insert some new — one commit
          val ups = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
            .map(k => k -> text(rnd))
          val ins = (1 to rnd.nextInt(3)).map { _ =>
            nextId += 1; nextId -> text(rnd)
          }
          Bm25Store.upsert((ups ++ ins).toDF("doc_id", "text"), path)
          model = model ++ ups ++ ins
        case 3 => // compact: stats delta rows co-locate, content identical
          Bm25Store.compact(spark, path)
      }
      check(step)
    }
  }
}
