package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.llm.Ann

/** Structured Streaming operators surfaced as registered queries: each runs
  * the *streaming* engine (file source → stateful op → memory sink,
  * Trigger.AvailableNow) over the events fixture, producing a deterministic
  * batch-comparable result for the DuckDB oracle.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame
  private val runId = new AtomicInteger(0)

  /** Sessionization needs a session key and a time-axis position: rows
    * with a NULL user or NULL ts are excluded on both engines (Spark's
    * session_window drops timestamp-less rows and the Ev encoders assert
    * non-null primitives; the oracle's gaps-and-islands window would
    * instead merge them arbitrarily). Shared by all three session
    * queries so the rule cannot drift between them. */
  private def sessionable(df: DataFrame): DataFrame =
    df.where(col("ts").isNotNull && col("user_id").isNotNull)

  val defs: Seq[(String, Q)] = Seq(
    // Watermarked tumbling-window aggregation through the streaming engine.
    "st_window_counts" -> ((s, dir) => {
      val out = EventStreams.runToBatch(
        EventStreams.windowedCounts(EventStreams.readEventStream(s, dir)),
        s"st_window_counts_${runId.incrementAndGet()}", complete = true)
      out
    }),

    // Streaming decontamination: each arriving micro-batch of documents
    // is screened against the benchmark shingle set (stateless per batch
    // — the benchmark side broadcasts inside foreachBatch exactly like
    // the batch dd_decontam plan), so the union of per-batch survivors
    // must equal the batch decontamination of the whole corpus. The
    // always-on form of the eval-leak guard a crawl-delta pipeline runs.
    "st_decontam_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = graft.Tables.documents(s, dir)
      val benchmark = docs.where("doc_id % 97 = 0")
      val outDir = s"${graft.Sweep.Qtmp}/st_decontam_${runId.incrementAndGet()}"
      graft.io.IO.deletePath(outDir)
      // 2 micro-batches: the contract (union of per-batch survivors ==
      // batch decontamination) is batching-invariant, and one cross-batch
      // boundary exercises it; the 3-batch DEEP equivalence runs in
      // StreamingSpec, off the bench path
      val stream = graft.streaming.DocStreams.readDocumentStream(s, dir, nSplits = 2)
      val q = stream.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.llm.Dedup.decontaminate(batch.toDF(), benchmark, threshold = 0.5)
            .select("doc_id").write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // Streaming ANN serving: a stream of query vectors served per
    // micro-batch against the PERSISTED IVF store (stateless per query —
    // the stream side only batches; the index does the work). foreachBatch
    // runs the same partition-pruned probe plan as the batch path, so the
    // union of per-batch results must equal one batch serve of every
    // query — the equality is the contract, alongside the SQL-exact query
    // count and rank validity.
    "st_ann_serve" -> ((s, dir) => {
      import s.implicits._
      val emb = graft.Tables.embeddings(s, dir)
      // the session-shared store (build + append lifecycle exercised by
      // ann_ivf_store/ann_ivf_compact) holds exactly the cosine-servable
      // corpus, so serving the stream from it is both cheaper than a
      // third full build AND the realistic topology: the online serve
      // path reads the index the offline maintenance path owns
      val store = graft.queries.LlmQueries.sharedIvfStore(s, dir)
      val resultsDir = s"${graft.Sweep.Qtmp}/st_ann_serve_${runId.incrementAndGet()}"
      graft.io.IO.deletePath(resultsDir)
      // 2 micro-batches (see st_decontam_stream — batching-invariant result)
      val stream = graft.streaming.DocStreams.readVectorStream(s, dir, nSplits = 2)
        .where(col("vec_id") < 24)
      val q = stream.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.llm.Ann.ivfStoreTopK(batch.sparkSession, store, batch.toDF(), k = 10)
            .write.mode("append").parquet(resultsDir)
        }
        .start()
      q.awaitTermination()
      val streamed = s.read.parquet(resultsDir)
      val batchServe = graft.llm.Ann.ivfStoreTopK(s, store,
        emb.where("vec_id < 24"), k = 10)
      // bounded result set (24 queries × k): collect both sides ONCE and
      // compare as multisets — the prior two-way exceptAll executed each
      // serve plan twice for the same answer
      def rows(df: DataFrame) = df.collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      val streamedRows = rows(streamed)
      val equal = streamedRows == rows(batchServe)
      val nQ = streamedRows.keys.map(_.getAs[Any]("query_id")).toSet.size.toLong
      val rankBad = streamed.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
        .where(col("mx") =!= col("n") || col("mn") =!= 1).count()
      Seq((nQ, equal, rankBad == 0L))
        .toDF("n_queries", "stream_equals_batch", "ranks_valid")
    }),

    // Streaming INDEX MAINTENANCE — the other half of the online ANN
    // topology st_ann_serve reads from: the embedding stream builds and
    // then APPENDS into a persisted IVF store per micro-batch (first
    // non-empty batch seeds the store under the session's shared
    // quantizer; every later batch routes through the STORED centroids —
    // an O(delta) OCC-manifest append, the exact maintenance path
    // appendVectorStore documents). Contract: the stream-maintained store's
    // (id, cell) content equals a batch assignment of the full servable
    // corpus under the same centroids — however the arrivals were
    // batched — and the maintenance was genuinely incremental (one
    // manifest commit per micro-batch, appended cells spanning
    // generations — the LSM signature a per-batch rebuild would erase).
    "st_ann_append" -> ((s, dir) => {
      import s.implicits._
      val emb = graft.Tables.embeddings(s, dir)
      val store = graft.Sweep.ephemeral(
        s"${graft.Sweep.Qtmp}/st_ann_append_${runId.incrementAndGet()}")
      graft.io.IO.deletePath(store)
      val cents = graft.queries.LlmQueries.corpusCentroids(s, dir)
      EventStreams.withStreamShufflePartitions(s) {
        val q = graft.streaming.DocStreams.readVectorStream(s, dir, nSplits = 3)
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val b = batch.toDF()
            if (!b.isEmpty) {
              if (!graft.io.IO.isPartitionedStore(b.sparkSession, store))
                Ann.writeIvfStore(b, store, centroids = Some(cents))
              else Ann.appendVectorStore(b, store)
            }
          }
          .start()
        q.awaitTermination()
      }
      // content equivalence: the maintained store's (nn_id, cell) set is
      // exactly the batch assignment of the servable corpus under the
      // STORED centroids (which are `cents` — the seed persisted them).
      // Serve-path equivalence over such a store is ann_ivf_store's
      // contract; re-proving it here would double this query's cost for
      // coverage the suite already has.
      val stored = Ann.readIvfStore(s, store).select("nn_id", "cell")
      val storedCents = Ann.readCentroids(s, store)
      val batchAssigned = Ann.assignCells(
        emb.where(Ann.cosineUsable(col("embedding"))), storedCents)
        .select("nn_id", "cell")
      val contentSame = LlmQueries.multisetEquals(stored, batchAssigned,
        Seq("nn_id", "cell"))
      // genuinely incremental, not rebuilt per batch: each of the 3
      // micro-batches committed exactly one manifest version (seed + two
      // O(delta) appends), and appended cells span >1 generation — the
      // LSM signature a per-batch rebuild would erase
      val nVersions = graft.io.IO.storeVersions(s, store).size
      val dataGens = graft.io.IO.storeBucketGenerations(s, store)
        .filter { case (b, _) => b != graft.io.IO.storeBuckets(store) - 1 }
      val incremental = nVersions == 3 &&
        dataGens.nonEmpty && dataGens.values.max >= 2 && dataGens.values.max <= 3
      val nRows = stored.count()
      Seq((nRows, contentSame, incremental))
        .toDF("n_indexed", "content_equals_batch_build", "genuinely_incremental")
    }),

    // Watermarked SLIDING-window aggregation (10-min width, 5-min slide)
    // — the streaming counterpart of the batch w5_sliding_window, sharing
    // its epoch-seconds oracle shape.
    "st_sliding_counts" -> ((s, dir) => {
      EventStreams.runToBatch(
        EventStreams.slidingCounts(EventStreams.readEventStream(s, dir)),
        s"st_sliding_counts_${runId.incrementAndGet()}", complete = true)
    }),

    // Streaming dedup on (event_id, ts) within the watermark horizon.
    "st_dedup" -> ((s, dir) => {
      EventStreams.runToBatch(
        EventStreams.dedupEvents(EventStreams.readEventStream(s, dir))
          .select("event_id", "user_id", "event_type"),
        s"st_dedup_${runId.incrementAndGet()}", complete = false)
    }),

    // Streaming key-dedup with watermark-bounded state
    // (dropDuplicatesWithinWatermark): per-key state expires once the
    // watermark passes, so state is bounded by keys-within-horizon rather
    // than all keys ever seen. The 35-day horizon covers the fixture's
    // 30-day span, so the bounded-state result equals a global distinct —
    // which is what makes it oracle-checkable; the emitted projection is
    // the key columns only, so WHICH duplicate survived cannot perturb the
    // result. Aggregated per event_type after the sink (the count is the
    // deterministic surface).
    "st_dedup_wm" -> ((s, dir) => {
      // keyed state cannot hold a NULL key (same rule as the partitioned
      // store's merge keys) and a NULL event time has no watermark
      // position; the oracle's count(DISTINCT user_id) also ignores NULL
      // users — so key-dedup runs over fully-keyed, timestamped rows only
      val dd = EventStreams.dedupKeysWithinWatermark(
        EventStreams.readEventStream(s, dir)
          .where(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type").isNotNull),
        cols = Seq("user_id", "event_type"), watermark = "35 days")
      EventStreams.runToBatch(dd.select("user_id", "event_type"),
          s"st_dedup_wm_${runId.incrementAndGet()}", complete = false)
        .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    }),

    // Incremental corpus dedup: the documents fixture streamed as 2
    // micro-batches, each exact-deduped against the PERSISTED accepted-hash
    // store (bucketed layout: existence check reads touched buckets only,
    // novel keys append with no rewrite — O(delta), not O(corpus), per
    // batch). Emits the final store's hash set, which is arrival-order
    // independent and hence fully oracle-checkable.
    "st_incremental_dedup" -> ((s, dir) => {
      // Sweep.ephemeral: per-run stores are keyed by a JVM-lifetime counter,
      // so "delete at next run's start" never fires for the SAME path — the
      // harness sweep deletes them once the query's result is consumed,
      // keeping qtmp size flat across bench runs.
      val id = runId.incrementAndGet()
      val store = graft.Sweep.ephemeral(s"${graft.Sweep.Qtmp}/st_incdedup_store_$id")
      val out = graft.Sweep.ephemeral(s"${graft.Sweep.Qtmp}/st_incdedup_out_$id")
      graft.io.IO.deletePath(store)
      graft.io.IO.deletePath(out)
      EventStreams.withStreamShufflePartitions(s) {
        // 16 buckets for the fixture-scale ephemeral store: every batch's
        // store read lists all touched bucket dirs, so the count should
        // track the corpus, not a global default
        // 2 micro-batches: the final store hash set is arrival-order- and
        // batching-independent; one cross-batch boundary still exercises
        // the store-side dedup (3-batch deep check in StreamingSpec)
        val q = graft.streaming.DocStreams.incrementalExactDedup(
          graft.streaming.DocStreams.readDocumentStream(s, dir, nSplits = 2),
          store, out, nBuckets = 16)
        q.awaitTermination()
      }
      graft.io.IO.readPartitionedStore(s, store).select("content_hash")
    }),

    // Sessionization via the BUILT-IN session_window aggregate — the
    // operator to prefer when per-session aggregates suffice (one shuffle
    // on the grouping key, no custom state machine). Boundary semantics
    // match the custom sessionizer: exactly-at-gap merges, only a strictly
    // longer gap breaks (verified in StreamingSpec).
    "st_session_window" -> ((s, dir) =>
      EventStreams.sessionWindows(sessionable(EventStreams.readEvents(s, dir)))),

    // Custom sessionization state (flatMapGroupsWithState), batch execution
    // of the same code path the stream runs.
    "st_sessionize" -> ((s, dir) => {
      import s.implicits._
      val evs = sessionable(EventStreams.readEvents(s, dir))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Ev]
      EventStreams.sessionize(evs, gapMinutes = 30).toDF()
    }),

    // Stream-stream interval join through the streaming engine: clicks to
    // same-user purchases in the trailing 24 hours. Inner matches emit
    // as both sides arrive, so the bounded fixture yields exactly the
    // batch interval-join result the oracle computes.
    "st_stream_join" -> ((s, dir) => {
      val c = EventStreams.readEventStream(s, dir).where("event_type = 'click'")
        .selectExpr("user_id AS c_user", "ts AS c_ts", "event_id AS c_id")
      val p = EventStreams.readEventStream(s, dir).where("event_type = 'purchase'")
        .selectExpr("user_id AS p_user", "ts AS p_ts", "event_id AS p_id")
      EventStreams.runToBatch(
        EventStreams.streamIntervalJoin(c, p, intervalMinutes = 24 * 60)
          .select("c_id", "p_id"),
        s"st_stream_join_${runId.incrementAndGet()}", complete = false)
    }),

    // foreachBatch + MERGE sink: a streaming aggregate incrementally
    // maintained in a parquet store through the engine's upsert — the
    // production sink shape for keyed state (file sinks only append).
    "st_foreach_upsert" -> ((s, dir) => {
      val store = graft.Sweep.ephemeral(
        s"${graft.Sweep.Qtmp}/st_upsert_store_${runId.incrementAndGet()}")
      // the per-JVM counter repeats across separate runs — a leftover store
      // at this path (e.g. from a different sf dir) would be silently
      // upserted into, keeping stale keys the new batch never emits
      graft.io.IO.deletePath(store)
      // the store upsert rejects NULL merge keys by design (uniqueness
      // cannot hold for them) — a NULL event_type group must not reach it
      val agg = EventStreams.readEventStream(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      EventStreams.withStreamShufflePartitions(s) {
        val q = EventStreams.maintainAggregateStore(agg, store,
          keys = Seq("event_type"), updateCols = Seq("n", "total_value"))
        q.awaitTermination()
      }
      graft.io.IO.readPartitionedStore(s, store)
    }),

    // Incremental NEAR-dup: each streamed delta is MinHash-banded and
    // checked against the persisted band-key store of everything ever
    // ingested (novel iff no shared band), then its keys append — the
    // "near-dup a crawl delta against the corpus" shape, O(delta + touched
    // buckets) per batch. The query emits the STREAM-side contract only:
    // every doc flagged exactly once (SQL-computable count), and the
    // first-arriving split all-novel (nothing earlier to collide with —
    // split 0 seeds the store). The deep stream≡batch flag equivalence is
    // an O(corpus) recomputation and lives in StreamingSpec, not on the
    // bench path — embedding it here doubled the operator's measured cost
    // for a check that only needs to run once, at test time.
    "st_incremental_neardup" -> ((s, dir) => {
      import s.implicits._
      val id = runId.incrementAndGet()
      val store = graft.Sweep.ephemeral(s"${graft.Sweep.Qtmp}/st_incnd_store_$id")
      val out = graft.Sweep.ephemeral(s"${graft.Sweep.Qtmp}/st_incnd_out_$id")
      graft.io.IO.deletePath(store)
      graft.io.IO.deletePath(out)
      EventStreams.withStreamShufflePartitions(s) {
        // 2 micro-batches (contract is per-doc flags + first-split
        // seeding, both batching-count-agnostic; see st_incremental_dedup)
        val q = graft.streaming.DocStreams.incrementalNearDup(
          graft.streaming.DocStreams.readDocumentStream(s, dir, nSplits = 2),
          store, out, nBuckets = 16) // fixture-scale store, see st_incremental_dedup
        q.awaitTermination()
      }
      val flags = s.read.parquet(out)
      val nDocs = graft.Tables.documents(s, dir).count()
      val counts = flags.agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          // split 0 = pmod(doc_id, nSplits) == 0, matching the staging rule
          sum(when(pmod(col("doc_id"), lit(2)) === 0 && !col("is_novel"), 1L)
            .otherwise(0L)).as("firstDup"))
        .head()
      val complete = counts.getLong(0) == nDocs && counts.getLong(1) == nDocs
      Seq((nDocs, complete, counts.getLong(2) == 0L))
        .toDF("n_docs", "flags_complete", "first_split_all_novel")
    }),

    // Streaming model scoring — train-offline / score-online: the quality
    // model fits ONCE on the static corpus (memoized with
    // tx_quality_model's fit), then scores the documents fixture streamed
    // as 2 micro-batches. The scoring chain (features → assemble →
    // coefficient dot-product) is a stateless per-row projection, so it
    // runs unmodified on the streaming frame with no state store at all.
    // The query emits the STREAM-side contract only: row count
    // (SQL-computable), every doc scored exactly once, probabilities
    // valid. The doc-for-doc stream≡batch score equality is an O(corpus)
    // second scoring pass and lives in StreamingSpec, not on the bench
    // path.
    "st_quality_stream" -> ((s, dir) => {
      import s.implicits._
      val fitted = LlmQueries.qualityFit(s, dir)
      val streamed = EventStreams.runToBatch(
        graft.llm.QualityModel.score(fitted.model,
          // 2 micro-batches: scoring is a stateless per-row projection, so
          // the result is batching-invariant by construction
          graft.streaming.DocStreams.readDocumentStream(s, dir, nSplits = 2)),
        s"st_quality_stream_${runId.incrementAndGet()}", complete = false)
      val nDocs = graft.Tables.documents(s, dir).count()
      val counts = streamed.agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          sum(when(col("quality_prob") < 0.0 || col("quality_prob") > 1.0
            || col("quality_prob").isNull, 1L).otherwise(0L)).as("bad"))
        .head()
      val complete = counts.getLong(0) == nDocs && counts.getLong(1) == nDocs
      Seq((counts.getLong(0), complete, counts.getLong(2) == 0L))
        .toDF("n_scored", "scores_complete", "probs_valid")
    }),

    // Sessionization through the STREAMING engine proper: watermark +
    // EventTimeTimeout emission. Emits every session except, per user, a
    // final open one whose timeout the last watermark never passed — the
    // oracle mirrors exactly that emission rule.
    "st_session_stream" -> ((s, dir) => {
      import s.implicits._
      val evs = sessionable(EventStreams.readEventStream(s, dir))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.EvI]
      EventStreams.runToBatch(
        EventStreams.sessionizeStream(evs, gapMinutes = 30).toDF(),
        s"st_session_stream_${runId.incrementAndGet()}", complete = false)
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // ts IS NOT NULL: a row with no event time has no window — Spark's
    // streaming window aggregate drops it; without the filter DuckDB
    // would emit a NULL-window group
    "st_window_counts" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // contract: the served-query count is SQL-exact (vec_id < 24 with a
    // cosine-usable vector — the same rule the serve path applies);
    // stream≡batch equality and rank validity are hash-gated booleans
    "st_ann_serve" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS stream_equals_batch,
        |  true AS ranks_valid
        |FROM embeddings WHERE vec_id < 24 AND ${LlmQueries.usableVec}""".stripMargin,
    // contract: the indexed-row count is SQL-exact (one row per
    // cosine-servable vector, however the stream batched them); content
    // equivalence vs the batch build and the one-commit-per-batch LSM
    // signature are store-state booleans the driver hash-gates
    "st_ann_append" ->
      s"""SELECT CAST(count(CASE WHEN ${LlmQueries.usableVec} THEN 1 END) AS BIGINT)
        |    AS n_indexed,
        |  true AS content_equals_batch_build, true AS genuinely_incremental
        |FROM embeddings""".stripMargin,
    "st_sliding_counts" ->
      """SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - k.k * 300 AS w_start_s,
        |  event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS k) k
        |WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "st_dedup" ->
      "SELECT event_id, user_id, event_type FROM events",
    "st_dedup_wm" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    // the accepted-hash store's final state is the distinct content-hash
    // set — identical however the arrivals were batched (null text hashes
    // as the empty string on both sides, so the key is never NULL)
    "st_incremental_dedup" ->
      "SELECT DISTINCT md5(coalesce(text, '')) AS content_hash FROM documents",
    "st_foreach_upsert" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM events WHERE event_type IS NOT NULL GROUP BY event_type""".stripMargin,
    // contract: doc count is SQL-computable; completeness and the
    // first-split-all-novel invariant are signature-state booleans the
    // driver hash-gates (stream≡batch equivalence deep-checked in
    // StreamingSpec)
    "st_incremental_neardup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS flags_complete, true AS first_split_all_novel
        |FROM documents""".stripMargin,
    // contract: the streamed row count is SQL-computable; completeness and
    // probability validity are model-state booleans the driver hash-gates
    // (doc-for-doc stream≡batch equality deep-checked in StreamingSpec)
    "st_quality_stream" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  true AS scores_complete, true AS probs_valid
        |FROM documents""".stripMargin,
    "st_stream_join" ->
      """SELECT c.event_id AS c_id, p.event_id AS p_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts - INTERVAL 24 HOUR AND p.ts <= c.ts""".stripMargin,
    // Emission rule under AvailableNow: a session emits if a later
    // same-user event closed it (grp < last grp) OR the final watermark
    // (max event time, zero delay) passed its end+gap timeout.
    "st_session_stream" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM o),
        |sess AS (
        |  SELECT user_id, grp,
        |    min(ts) AS s_ts, max(ts) AS e_ts,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(sum(value), 2) AS total_value
        |  FROM g GROUP BY user_id, grp),
        |mx AS (SELECT max(ts) AS maxts FROM events),
        |lastg AS (SELECT user_id, max(grp) AS lgrp FROM sess GROUP BY user_id)
        |SELECT sess.user_id,
        |  strftime(s_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(e_ts, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  n_events, total_value
        |FROM sess JOIN lastg ON sess.user_id = lastg.user_id, mx
        |WHERE grp < lgrp OR e_ts + INTERVAL 30 MINUTE < maxts""".stripMargin,
    // same gaps-and-islands shape and boundary rule as st_sessionize
    // (exactly-at-gap merges; break only on a strictly longer gap)
    "st_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "st_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, grp""".stripMargin
  )
}
