package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming document ingestion: the incremental-curation shape a corpus
  * pipeline runs on every crawl delta, against the `documents` fixture.
  *
  * The flagship composition is [[incrementalExactDedup]]: each arriving
  * micro-batch of documents is exact-deduped against everything the
  * pipeline has EVER accepted, by anti-joining the batch's content hashes
  * against a persisted key-hash-bucketed store and appending only the
  * novel hashes. Per-batch cost is O(delta + touched buckets read), not
  * O(corpus): the store read prunes to the buckets the batch's hashes land
  * in, and the store write is a pure partitioned APPEND of the novel keys
  * (no existing file read or rewritten) — the property that keeps an
  * always-on ingest viable once the accepted-corpus store dwarfs a delta.
  * At 100 TB the same plan holds: a day's delta reads at most
  * min(|delta|, nBuckets) partitions of a store that can itself be
  * arbitrarily large, and writes only its own novel rows.
  */
object DocStreams {

  /** File-source stream over the documents fixture, staged into `nSplits`
    * files and throttled to one file per micro-batch — so a bounded
    * fixture still exercises REAL multi-batch incremental behavior
    * (cross-batch duplicates must be caught by the store, not by
    * within-batch dedup). */
  def readDocumentStream(spark: SparkSession, dir: String,
                         nSplits: Int = 3): DataFrame = {
    val staged = stageSplits(spark, dir, nSplits)
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
  }

  /** File-source stream over the EMBEDDINGS fixture — the query side of a
    * streaming ANN serve path. Same staging contract as
    * [[readDocumentStream]]: `nSplits` deterministic pmod splits, one
    * file per micro-batch. */
  def readVectorStream(spark: SparkSession, dir: String,
                       nSplits: Int = 3): DataFrame = {
    val staged = stageTableSplits(spark, dir, "embeddings", "vec_id", nSplits)
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
  }

  /** Stage the single-file fixture as `nSplits` parquet files, split
    * deterministically by pmod(doc_id, nSplits) so every run (and every
    * engine) sees the same batch contents. The marker records the source
    * file's size AND mtime, so a regenerated fixture at the same path
    * re-stages even when the new file happens to land on the same byte
    * count (size alone is a weak regeneration signal). */
  private def stageSplits(spark: SparkSession, dir: String, nSplits: Int): String =
    stageTableSplits(spark, dir, "documents", "doc_id", nSplits)

  private def stageTableSplits(spark: SparkSession, dir: String, table: String,
                               idCol: String, nSplits: Int): String = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val src = Paths.get(dir, s"$table.parquet")
    val out = Paths.get(graft.Sweep.Qtmp,
      s"stream_${table}_v2_${Integer.toHexString(dir.hashCode)}_$nSplits")
    val marker = out.resolve("_graft_staged")
    val srcSize = s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
    if (!Files.exists(marker) || Files.readString(marker).trim != srcSize) {
      val docs = spark.read.parquet(src.toString)
      (0 until nSplits).foreach { i =>
        docs.where(pmod(col(idCol), lit(nSplits)) === i)
          .coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(f"split_$i%02d").toString)
      }
      // FileStreamSource serves files in modification-time order; pin each
      // split's files to a strictly increasing timestamp so batch order is
      // split order BY CONSTRUCTION (sequential-write mtimes are already
      // increasing in practice; this removes the tie hazard entirely —
      // order-dependent consumers like the incremental near-dup need it)
      val base = System.currentTimeMillis() - 3600000L
      (0 until nSplits).foreach { i =>
        // Files.list returns a Stream backed by an open directory handle —
        // close it (Using) or every restage leaks a file descriptor
        scala.util.Using.resource(Files.list(out.resolve(f"split_$i%02d"))) {
          _.forEach { p =>
            Files.setLastModifiedTime(p, FileTime.fromMillis(base + i * 60000L))
          }
        }
      }
      Files.writeString(marker, srcSize)
    }
    s"$out/split_*"
  }

  /** One micro-batch of the incremental dedup: hash the batch, dedup
    * within it (min doc_id per hash), anti-join against the persisted
    * store's TOUCHED BUCKETS only, append the novel hashes back. Returns
    * the batch's surviving (content_hash, doc_id) rows. Exposed for the
    * registered query's oracle surface and direct batch use.
    *
    * Null text hashes as md5('') (coalesce) so the content key is never
    * NULL — a NULL key would slip through both the anti-join and any
    * merge's key equality (NULL never equals NULL) and re-insert on every
    * batch. Survivors are novel keys by construction, so persisting them
    * is a plain partitioned APPEND into the bucket directories — no
    * existing file is read or rewritten, keeping the per-batch write
    * O(delta) even when a batch touches every bucket. */
  def dedupBatchAgainstStore(batch: DataFrame, storePath: String,
                             nBuckets: Int = 64): DataFrame = {
    import graft.io.IO
    val spark = batch.sparkSession
    val keys = Seq("content_hash")
    val hashed = batch
      .select(md5(coalesce(col("text"), lit(""))).as("content_hash"), col("doc_id"))
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
      .localCheckpoint()
    if (hashed.isEmpty) {
      // an empty micro-batch (triggers can emit them) must not seed an
      // empty store — a later read of a data-less parquet dir fails schema
      // inference — nor append anything
      hashed
    } else if (!IO.isPartitionedStore(spark, storePath)) {
      // first batch seeds the store; everything in it is novel. The seed
      // write pins the store's bucket count (later batches read the
      // marker) — size it to the expected corpus, not one global default:
      // every batch's store read lists all touched bucket directories, so
      // an oversized count is pure file-listing overhead per batch.
      IO.writePartitionedStore(hashed, storePath, keys, nBuckets)
      hashed
    } else {
      // existence check reads only the buckets this batch's hashes land in
      // (manifest-pruned file listing). `src` is a narrow map over the
      // already-checkpointed `hashed`, so its three consumers
      // (touched-bucket collect, anti-join, append) recompute only the
      // bucket column — no second checkpoint needed
      val nB = IO.storeBuckets(storePath)
      val src = hashed.withColumn(IO.BucketCol, IO.bucketExpr(keys, nB))
      val touched = src.select(IO.BucketCol).distinct().collect().map(_.getInt(0))
      val stored = IO.readStoreBuckets(spark, storePath, touched.toSet)
        .select("content_hash")
      val survivors = src.join(stored, keys, "left_anti").localCheckpoint()
      // atomic delta-generation append: a crash mid-batch leaves the store
      // exactly as the previous batch committed it
      IO.appendPartitionedStore(spark, storePath, survivors, keys)
      survivors.drop(IO.BucketCol)
    }
  }

  /** Streaming incremental exact dedup: every micro-batch of `docs` is
    * deduped against the persisted store via [[dedupBatchAgainstStore]];
    * survivors append to `outPath`. Caller awaits termination and reads
    * the store / output. */
  def incrementalExactDedup(docs: DataFrame, storePath: String,
                            outPath: String,
                            availableNow: Boolean = true,
                            nBuckets: Int = 64): StreamingQuery = {
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit = {
      (batch, _) =>
        dedupBatchAgainstStore(batch.toDF(), storePath, nBuckets)
          .write.mode("append").parquet(outPath)
    }
    val w = docs.writeStream.outputMode(OutputMode.Append()).foreachBatch(fn)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** NEAR-dup check of one batch against the persisted MinHash band-key
    * store — the similarity analogue of [[dedupBatchAgainstStore]] (a new
    * crawl delta near-duped against everything ever ingested). A batch doc
    * is novel iff it shares no (band, band_key) with any previously
    * ingested doc; ALL batch docs' band keys then append to the store
    * (novel or not), so later deltas also collide with the flagged docs'
    * content. Docs with no shingles (null/empty text) have no similarity
    * surface and are always novel. Returns (doc_id, is_novel).
    *
    * Per-batch cost is O(delta bands + touched buckets read): the store
    * read prunes to the key-hash buckets the batch's band keys land in,
    * and the store write is a pure partitioned append — no existing file
    * read or rewritten, the same property that keeps the exact path
    * O(delta) per batch. */
  def nearDupBatchAgainstStore(batch: DataFrame, storePath: String,
                               n: Int = 3, bands: Int = 12,
                               rowsPerBand: Int = 3,
                               seed: Long = 42L,
                               nBuckets: Int = 64): DataFrame = {
    import graft.io.IO
    val spark = batch.sparkSession
    val keys = Seq("band", "band_key")
    val bk = graft.llm.Dedup.bandKeys(
        graft.llm.Dedup.signatures(batch, "text", n, bands * rowsPerBand, seed),
        bands, rowsPerBand)
      .select(col("id").as("doc_id"), col("band"), col("band_key"))
      .localCheckpoint()
    val dupIds =
      if (bk.isEmpty) {
        // no similarity surface in this batch (empty, or all-null texts):
        // never seed/append an empty store — a later read of a data-less
        // parquet dir fails schema inference — and nothing can collide
        bk.select("doc_id")
      } else if (!IO.isPartitionedStore(spark, storePath)) {
        // first batch seeds the store; nothing earlier to collide with.
        // The seed write pins the bucket count (see dedupBatchAgainstStore)
        IO.writePartitionedStore(bk, storePath, keys, nBuckets)
        bk.select("doc_id").where(lit(false))
      } else {
        // narrow map over the checkpointed `bk` — consumers recompute only
        // the bucket column, so no second checkpoint (see exact-dedup path)
        val nB = IO.storeBuckets(storePath)
        val src = bk.withColumn(IO.BucketCol, IO.bucketExpr(keys, nB))
        val touched = src.select(IO.BucketCol).distinct().collect().map(_.getInt(0))
        val stored = IO.readStoreBuckets(spark, storePath, touched.toSet)
          .select("band", "band_key")
        val dups = src.join(stored, keys, "left_semi")
          .select("doc_id").distinct().localCheckpoint()
        // atomic delta-generation append (see dedupBatchAgainstStore)
        IO.appendPartitionedStore(spark, storePath, src, keys)
        dups
      }
    batch.select("doc_id").distinct()
      .join(dupIds.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        not(coalesce(col("__dup"), lit(false))).as("is_novel"))
  }

  /** Streaming incremental near-dup: every micro-batch flags its docs via
    * [[nearDupBatchAgainstStore]] and appends the flags to `outPath`. */
  def incrementalNearDup(docs: DataFrame, storePath: String, outPath: String,
                         availableNow: Boolean = true,
                         nBuckets: Int = 64): StreamingQuery = {
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit = {
      (batch, _) =>
        nearDupBatchAgainstStore(batch.toDF(), storePath, nBuckets = nBuckets)
          .write.mode("append").parquet(outPath)
    }
    val w = docs.writeStream.outputMode(OutputMode.Append()).foreachBatch(fn)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
