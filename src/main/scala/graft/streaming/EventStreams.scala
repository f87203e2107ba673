package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming layer (beyond the batch-only reference): windowed
  * aggregation with watermark, streaming dedup, and custom sessionization
  * state over the `events` fixture.
  *
  * Scale notes: windowed counts are a standard watermarked stateful agg —
  * state is bounded by (watermark horizon × key cardinality). Sessionize
  * keeps one small state object per user key and emits on timeout; both
  * shuffle once on their grouping key. The same transformations run in
  * batch mode (Spark executes [flat]mapGroupsWithState on static Datasets
  * too), which is how the DuckDB oracle checks them.
  */
object EventStreams {

  /** Normalize the fixture's `ts` to a tz-aware TIMESTAMP regardless of
    * how the fixture was written — the generator has shipped it as parquet
    * TIMESTAMP(NANOS) (readable only as a raw long via the legacy conf),
    * as naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), and as UTC
    * micros. Downstream code (watermarks, Instant encoders, the DuckDB
    * oracle under a UTC session) all assume one canonical type, so adapt
    * at the read seam. Applied to both batch and stream reads so the two
    * paths agree.
    *
    * Nanos path uses integer DIV, not `/`: Spark's `/` on longs is DOUBLE
    * division, and at ~1.7e18 ns the double's 256 ns ulp rounds ~1.6% of
    * timestamps 1 us off the exact truncation DuckDB's epoch_us performs —
    * invisible to second-granularity oracles, wrong for anything that
    * truncates or compares raw microseconds. NTZ casts to TIMESTAMP under
    * the session's UTC zone — the same naive-means-UTC reading DuckDB
    * applies. */
  private def nanosToTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The scan consults this conf at *execution* time, so it must stay set
    * for the session (harmless: `events.ts` is the corpus's only ns
    * column, and the explicit conversion below restores timestamp
    * semantics). */
  private def enableNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Batch read of the events fixture with the ns→µs conversion applied. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    enableNanosAsLong(spark)
    nanosToTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** File-source stream over the events fixture (schema declared, never
    * inferred — streaming sources require it anyway). The file source wants
    * a *directory*, so the fixture's single file is staged into one. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    enableNanosAsLong(spark)
    val staged = stageDir(dir)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    nanosToTs(spark.readStream.schema(schema).parquet(staged))
  }

  private def stageDir(dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, "events.parquet")
    val out = Paths.get(graft.Sweep.Qtmp,
      s"stream_events_${Integer.toHexString(dir.hashCode)}")
    Files.createDirectories(out)
    val dst = out.resolve("events.parquet")
    // size + mtime: a regenerated fixture landing on the same byte count
    // must still re-stage (same guard as DocStreams.stageSplits)
    if (!Files.exists(dst) || Files.size(dst) != Files.size(src)
        || Files.getLastModifiedTime(dst).toMillis < Files.getLastModifiedTime(src).toMillis)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    out.toString
  }

  /** Tumbling-window counts per event type, watermarked. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 minute",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("total_value"))

  /** SLIDING-window counts per event type, watermarked: each event lands
    * in width/slide windows (the built-in generator expands them
    * scan-side), state is one aggregate row per open (window, type) —
    * width/slide × more windows than tumbling, the standard trade for
    * smoother trend curves. Window starts emit as epoch seconds (the
    * timezone-proof form the batch `w5_sliding_window` oracle shares). */
  def slidingCounts(events: DataFrame, windowLen: String = "10 minutes",
                    slide: String = "5 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").cast("timestamp").cast("long").as("w_start_s"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming dedup on event_id within the watermark horizon. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id", "ts")

  /** Streaming key dedup with BOUNDED state: unlike `dropDuplicates`
    * (whose key state only expires when the dedup columns include the
    * event-time column), `dropDuplicatesWithinWatermark` drops a key's
    * state once the watermark passes its expiry — state is (keys seen
    * within the horizon), independent of stream length, for arbitrary key
    * columns. The trade: a duplicate arriving more than `watermark` after
    * its first occurrence is re-emitted, which is the standard at-scale
    * dedup contract (exact within the horizon, best-effort beyond). */
  def dedupKeysWithinWatermark(events: DataFrame, cols: Seq[String],
                               watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(cols)

  /** Sessionization via the BUILT-IN `session_window` aggregate — the
    * native operator for gap-based sessions (dynamic-gap session windows
    * in one groupBy; works on batch and, watermarked, on streams). Kept
    * alongside the custom [[sessionize]]/[[sessionizeStream]] because the
    * two serve different needs: the built-in when per-session aggregates
    * suffice (this is the plan to prefer — one shuffle on the grouping
    * key, no user state machine), the flatMapGroupsWithState pair when
    * session logic needs arbitrary state. Boundary semantics match the
    * custom path: an event at exactly `gap` after the previous one still
    * merges (inclusive — verified in StreamingSpec; only a gap strictly
    * greater than `gap` starts a new session). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))

  case class Ev(event_id: Long, ts: java.time.LocalDateTime, user_id: Long,
                event_type: String, value: Double)
  case class Session(user_id: Long, session_start: String, session_end: String,
                     n_events: Long, total_value: Double)

  /** Sessionization with a gap timeout via flatMapGroupsWithState — the
    * custom-state operator the built-ins can't express. Runs identically on
    * a static Dataset (each group seen once, state discarded), which is the
    * oracle-checkable path. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[List[Ev]]) =>
          val all = (state.getOption.getOrElse(Nil) ++ evs)
            .sortBy(e => (e.ts.toEpochSecond(java.time.ZoneOffset.UTC), e.ts.getNano))
          state.remove()
          sessionsOf(all, gapMinutes).iterator
      }
  }

  /** Split time-ordered events into gap-delimited groups (each returned
    * group in time order, groups in time order). */
  private def splitSessions(evs: List[Ev], gapMinutes: Int): List[List[Ev]] = {
    if (evs.isEmpty) return Nil
    val gap = java.time.Duration.ofMinutes(gapMinutes.toLong)
    val groups = evs.tail.foldLeft(List(List(evs.head))) { (acc, e) =>
      val cur = acc.head
      if (java.time.Duration.between(cur.head.ts, e.ts).compareTo(gap) <= 0)
        (e :: cur) :: acc.tail   // cur.head is the most recent event
      else List(e) :: acc
    }
    groups.reverse.map(_.reverse)
  }

  private def toSession(g: List[Ev]): Session =
    Session(g.head.user_id, fmt(g.head.ts), fmt(g.last.ts), g.size.toLong,
      BigDecimal(g.map(_.value).sum).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)

  private def sessionsOf(evs: List[Ev], gapMinutes: Int): List[Session] =
    splitSessions(evs, gapMinutes).map(toSession)

  /** Event shape for the *streaming* sessionizer: `ts` as Instant ⇒
    * TimestampType, which event-time watermarks require. */
  case class EvI(event_id: Long, ts: java.time.Instant, user_id: Long,
                 event_type: String, value: Double)

  /** True streaming sessionization: watermark + EventTimeTimeout. Closed
    * sessions (a later event arrived past the gap) emit immediately; each
    * key's open session is held in state with a timeout at
    * `session_end + gap` and emits when the watermark passes it. State per
    * key is one session's events — bounded by session length, independent
    * of stream length; keys are dropped from state on timeout, so total
    * state is (active keys × open session size).
    *
    * Under Trigger.AvailableNow the engine keeps running batches until
    * stateful timeouts quiesce, so a bounded input emits every session
    * whose timeout precedes the final watermark (= max event time with a
    * zero delay); per key, the last session stays unemitted unless the
    * global max passes its timeout — exactly the semantics the registered
    * query's oracle mirrors. */
  def sessionizeStream(events: Dataset[EvI], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val utc = java.time.ZoneOffset.UTC
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, evs, state: GroupState[List[Ev]]) =>
          if (state.hasTimedOut) {
            val out = sessionsOf(state.get, gapMinutes)
            state.remove()
            out.iterator
          } else {
            val arrived = evs.map(e => Ev(e.event_id,
              java.time.LocalDateTime.ofInstant(e.ts, utc),
              e.user_id, e.event_type, e.value)).toList
            val all = (state.getOption.getOrElse(Nil) ++ arrived)
              .sortBy(e => (e.ts.toEpochSecond(utc), e.ts.getNano))
            val groups = splitSessions(all, gapMinutes)
            val open = groups.last
            state.update(open)
            state.setTimeoutTimestamp(
              open.last.ts.toInstant(utc).toEpochMilli + gapMs)
            groups.init.map(toSession).iterator
          }
      }
  }

  private def fmt(t: java.time.LocalDateTime): String =
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Stream-stream interval join: clicks to same-user purchases within the
    * trailing `intervalMinutes` window. Executes as a symmetric hash join
    * keyed on the equality column with the time range as the join
    * condition; the watermarks bound both sides' state to
    * (watermark horizon + interval), which is what makes a stream-stream
    * join feasible at all at scale — without them state grows with the
    * stream. Inner-join matches emit as soon as both rows have arrived
    * (no watermark wait), so a bounded input yields exactly the batch
    * interval-join result.
    *
    * Inputs must carry distinct column names: clicks(c_user, c_ts, ...),
    * purchases(p_user, p_ts, ...). */
  def streamIntervalJoin(clicks: DataFrame, purchases: DataFrame,
                         intervalMinutes: Int,
                         watermark: String = "1 hour"): DataFrame =
    clicks.withWatermark("c_ts", watermark)
      .join(purchases.withWatermark("p_ts", watermark),
        expr(s"""c_user = p_user AND
                 p_ts >= c_ts - INTERVAL $intervalMinutes MINUTES AND
                 p_ts <= c_ts"""))

  /** foreachBatch sink: maintain a parquet aggregate store from a
    * Complete-mode streaming aggregate by MERGE-ing each micro-batch's
    * state via the engine's upsert (S5). This is the production streaming
    * sink shape — the built-in file sink can only append, so keyed upserts
    * into a store go through foreachBatch + MERGE. First batch creates the
    * store; every batch (including the first) then runs the merge path so
    * the upsert machinery is exercised even on single-batch inputs.
    *
    * The store uses the key-hash-bucketed manifest layout, so each
    * micro-batch's merge reads only the buckets its keys touch and
    * commits atomically via the manifest marker — per-batch cost is
    * O(delta + touched buckets), not O(store), which is what keeps an
    * always-on stream viable once the store outgrows a batch, and a
    * crashed batch leaves the store exactly as the previous commit. Read
    * it back with [[graft.io.IO.readPartitionedStore]].
    * Returns the started query; caller awaits/termination. */
  def maintainAggregateStore(aggStream: DataFrame, storePath: String,
                             keys: Seq[String], updateCols: Seq[String],
                             availableNow: Boolean = true,
                             nBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    val fn: (Dataset[org.apache.spark.sql.Row], Long) => Unit = { (batch, _) =>
      val df = batch.toDF()
      if (!graft.io.IO.isPartitionedStore(df.sparkSession, storePath))
        graft.io.IO.writePartitionedStore(df, storePath, keys, nBuckets)
      graft.io.IO.upsertPartitionedStore(df.sparkSession, storePath, df,
        keys, updateCols)
    }
    val w = aggStream.writeStream.outputMode(OutputMode.Complete()).foreachBatch(fn)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Run a streaming frame to completion on the currently-available data
    * (Trigger.AvailableNow) into a memory sink; returns the materialized
    * result. Lets the registered queries exercise the *streaming* engine
    * while still producing a comparable batch result. */
  def runToBatch(stream: DataFrame, name: String, complete: Boolean): DataFrame =
    runToBatchTracked(stream, name, complete)._1

  /** Scope `spark.sql.shuffle.partitions` down to `n` for the duration of
    * a streaming run (start → awaitTermination), restoring the caller's
    * value after. Stateful streaming operators create one state store PER
    * shuffle partition PER operator PER micro-batch commit; at the
    * session's batch-sized 32 partitions a 3-batch AvailableNow run pays
    * ~100 state-store inits/commits for a few thousand rows — pure fixed
    * overhead, no parallelism won (measured: the st_* fixture queries are
    * dominated by it). 8 partitions keeps the same semantics (partition
    * count never changes results) and quarters the per-batch fixed cost.
    * At production scale a stream would set this to match its real key
    * cardinality and executor count — the point is it's a STREAM-scoped
    * knob, not the batch session default. */
  /** FQCN of Spark's RocksDB state-store provider (in-box since 3.2;
    * rocksdbjni ships with the distribution). The default HDFS-backed
    * provider keeps every state row on the executor HEAP — fine at
    * fixture scale, but a 100×-state stream (billions of dedup keys,
    * wide session maps) wants state off-heap and spillable. RocksDB
    * keeps a native working set with changelog/snapshot files in the
    * checkpoint dir, bounding heap regardless of key cardinality. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with `spark.sql.streaming.stateStore.providerClass` set to
    * `provider`, restoring the previous setting after. The conf is read
    * per-query AT START, so scoping it around a start→awaitTermination
    * block swaps the state backend for exactly that stream; results are
    * provider-invariant by contract (StreamingSpec pins this for the
    * stateful dedup + windowed agg under RocksDB). An existing query's
    * checkpoint pins its provider — swap only with a fresh checkpoint. */
  def withStateStoreProvider[A](spark: SparkSession, provider: String = RocksDbProvider)
                               (body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // conf.get resolves the default when unset — restoring that effective
    // value by set() is behavior-identical to unsetting
    val prev = spark.conf.get(key)
    spark.conf.set(key, provider)
    try body finally spark.conf.set(key, prev)
  }

  private[graft] def withStreamShufflePartitions[A](spark: SparkSession,
                                                    n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** [[runToBatch]] plus the query's progress events — the per-batch state
    * operator metrics (`stateOperators.numRowsTotal`) are how a caller
    * verifies the watermark actually bounds stateful-operator state rather
    * than trusting the documentation (StreamingSpec does exactly that for
    * the stream-stream join). */
  def runToBatchTracked(stream: DataFrame, name: String, complete: Boolean)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = stream.sparkSession
    val q = withStreamShufflePartitions(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .outputMode(if (complete) OutputMode.Complete() else OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    // The memory sink pins ALL result rows in the driver for the life of
    // the session (the temp view is never dropped by the engine). Copy the
    // rows out (localCheckpoint — eager, and releasable by the
    // between-query sweep once the caller has consumed the frame) and drop
    // the view, so a long bench run doesn't accrete one sink per
    // streaming query.
    val rows = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    (rows, q.recentProgress.toIndexedSeq)
  }
}
