package graft

import org.apache.spark.sql.SparkSession
import graft.queries.{LlmQueries, MatchQueries}
import graft.llm.Ann

/** Diagnostic: print the RAW measured ratios behind every contract-oracle
  * boolean (`graft.queries.ContractBounds`) at a given scale factor, so the
  * bounds can be re-validated whenever a seeded stage changes.
  *
  *   sbt "runMain graft.ProbeContracts /root/testdata/sf0.01"
  */
object ProbeContracts {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def p(s: String): Unit = println(s"[probe] $s")

    val mh = LlmQueries.minhashStats(spark, dir)
    p(f"dd_minhash: nExact=${mh.nExact} recall=${mh.recall}%.4f gross=${mh.gross} estsOk=${mh.estsOk}")

    val sem = LlmQueries.semanticStats(spark, dir)
    p(f"dd_semantic: nExact=${sem.nExact} recall=${sem.recall}%.4f falsePos=${sem.falsePos}")

    val emb = Tables.embeddings(spark, dir)
    val lshAnn = LlmQueries.annStats(spark,
      Ann.lshTopK(emb, emb.where("vec_id < 8"), k = 10), dir)
    p(f"ann_lsh: recall=${lshAnn.recall}%.4f mismatches=${lshAnn.mismatches} rankBad=${lshAnn.rankBad}")
    val ivfAnn = LlmQueries.annStats(spark,
      Ann.ivfTopK(emb, emb.where("vec_id < 8"), k = 10), dir)
    p(f"ann_ivf: recall=${ivfAnn.recall}%.4f mismatches=${ivfAnn.mismatches} rankBad=${ivfAnn.rankBad}")
    // maxIter=3 mirrors the registered query's memoized fit (LlmQueries.pqCodebooks)
    val pqAnn = LlmQueries.annStats(spark,
      Ann.pqTopK(emb, emb.where("vec_id < 8"), k = 10,
        codebooks = Some(Ann.fitPqCodebooks(emb, maxIter = 3))), dir)
    p(f"ann_pq: recall=${pqAnn.recall}%.4f mismatches=${pqAnn.mismatches} rankBad=${pqAnn.rankBad}")
    locally {
      val path = graft.Sweep.ephemeral(
        new java.io.File("target/qtmp/probe_ivfpq").getAbsolutePath)
      graft.io.IO.deletePath(path)
      // residual-space codebooks fit inside the build (3 bounded Lloyd
      // iterations) — mirrors the registered query's store exactly
      Ann.writeIvfPqStore(emb.where("vec_id % 3 != 2"), path,
        centroids = Some(Ann.fitCentroids(
          emb.where(Ann.cosineUsable(org.apache.spark.sql.functions.col("embedding"))))))
      Ann.appendVectorStore(emb.where("vec_id % 3 = 2"), path)
      val st = LlmQueries.annStats(spark,
        Ann.ivfPqStoreTopK(spark, path, emb.where("vec_id < 8"), k = 10,
          refineFrom = Some(emb)), dir)
      p(f"ann_ivfpq_store: recall=${st.recall}%.4f mismatches=${st.mismatches} rankBad=${st.rankBad}")
    }
    locally {
      import org.apache.spark.sql.functions.col
      // filtered-serve recall vs the exact filtered brute — the raw
      // measurement behind annFilteredRecall
      val allowed = emb.where("vec_id % 2 = 0").select("vec_id")
      val queries = emb.where("vec_id < 8")
      val served = Ann.ivfStoreTopK(spark,
        LlmQueries.sharedIvfStore(spark, dir), queries, k = 10,
        allowedIds = Some(allowed))
      val brute = Ann.bruteTopK(emb.where("vec_id % 2 = 0"), queries, k = 10)
        .select("query_id", "nn_id")
      val nBrute = brute.count()
      val hit = served.select("query_id", "nn_id")
        .join(brute, Seq("query_id", "nn_id")).count()
      val disallowed = served.where(col("nn_id") % 2 =!= 0).count()
      p(f"ann_filtered_topk: recall=${hit.toDouble / math.max(nBrute, 1L)}%.4f " +
        s"disallowed=$disallowed")
    }
    locally {
      import org.apache.spark.sql.functions.{col, sum, when, lit}
      // staleness drift flags under the in-distribution 2/3 + 1/3
      // lifecycle of the session-shared stores (the registered query's
      // exact inputs) — the raw count behind annStalenessDriftCells
      def drifted(rep: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = rep.agg(
          sum(when(col("drifted") && col("n_build") > 0, 1).otherwise(0)),
          sum(when(col("drifted"), 1).otherwise(0))).head()
        (r.getLong(0), r.getLong(1))
      }
      val ivf = drifted(Ann.vectorStoreStaleness(spark,
        LlmQueries.sharedIvfStore(spark, dir)))
      val pq = drifted(Ann.vectorStoreStaleness(spark,
        LlmQueries.sharedIvfPqStore(spark, dir)))
      p(s"ann_store_staleness: ivf driftedWithBaseline=${ivf._1} driftedAny=${ivf._2} " +
        s"ivfpq driftedWithBaseline=${pq._1} driftedAny=${pq._2}")
    }
    if (sys.env.contains("SPARK_GRAFT_PQ_SWEEP"))
      for (m <- Seq(4, 8); ks <- Seq(16, 32); rf <- Seq(4, 8)) {
        val st = LlmQueries.annStats(spark,
          Ann.pqTopK(emb, emb.where("vec_id < 8"), k = 10,
            m = m, ksub = ks, refine = rf), dir)
        p(f"ann_pq m=$m ksub=$ks refine=$rf: recall=${st.recall}%.4f")
      }

    val j4 = MatchQueries.lshJoinStats(spark, dir)
    p(f"j4: nExact=${j4.nExact} recall=${j4.recall}%.4f fp=${j4.falsePos} distMismatch=${j4.distMismatch}")

    val fl = MatchQueries.flagshipStats(spark, dir)
    p(f"flagship: nGolden=${fl.nGolden} goldenInTop=${fl.goldenInTop}%.4f scoresBad=${fl.scoresBad} labelsBad=${fl.labelsBad} separationOk=${fl.separationOk}")

    val inf = MatchQueries.inferenceStats(spark, dir)
    p(s"inference: nNew=${inf.nNew} storeRows=${inf.storeRows} foreignIds=${inf.foreignIds} scoresBad=${inf.scoresBad} nScored=${inf.nScored}")

    val qm = graft.llm.QualityModel.fitScore(Tables.documents(spark, dir))
    p(f"tx_quality_model: auc=${qm.auc}%.4f nPos=${qm.nPos}")

    spark.stop()
  }
}
