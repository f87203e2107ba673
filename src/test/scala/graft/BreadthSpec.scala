package graft

import org.apache.spark.sql.functions._
import graft.functions.WeightedMean
import graft.ops.AsOf
import graft.streaming.EventStreams

/** Breadth operators: as-of join vs the naive formulation, custom UDAF
  * arithmetic, partition pruning, and subquery decorrelation plan shapes. */
class BreadthSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join matches the naive greatest-earlier-timestamp formulation") {
    val ev = EventStreams.readEvents(spark, sf)
    val clicks = ev.where("event_type = 'click'")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where("event_type = 'purchase'")
      .groupBy("user_id", "ts").agg(max("value").as("pval"))

    val fast = AsOf.joinBackward(clicks, purchases, "user_id", "ts", "pval", "lp")
      .select(col("event_id"), coalesce(col("lp"), lit(-1.0)).as("lp"))

    // naive oracle: range join + per-click argmax (quadratic — test only)
    val best = clicks.as("c")
      .join(purchases.as("p"),
        col("c.user_id") === col("p.user_id") && col("p.ts") <= col("c.ts"),
        "left_outer")
      .groupBy(col("c.event_id").as("event_id"))
      .agg(max(struct(col("p.ts"), col("p.pval"))).as("m"))
      .select(col("event_id"), coalesce(col("m.pval"), lit(-1.0)).as("lp"))

    val f = fast.as[(Long, Double)].collect().toMap
    val n = best.as[(Long, Double)].collect().toMap
    assert(f.size == n.size && f == n)
  }

  test("resampleFfill: hourly grid spans activity, carries last value, leading gap NULL") {
    val ev = Seq(
      (1L, "2024-01-01 10:05:00", Some(1.0)), // first obs mid-hour
      (1L, "2024-01-01 11:10:00", None),      // NULL value: not an observation
      (1L, "2024-01-01 12:30:00", Some(2.0)), // grid ends at trunc(max) = 12:00
      (2L, "2024-01-01 09:00:00", Some(5.0))
    ).map { case (u, t, v) => (u, java.sql.Timestamp.valueOf(t), v) }
      .toDF("user_id", "ts", "value")
    val out = graft.ops.Resample.resampleFfill(ev, "user_id", "ts", "value")
      .select($"user_id", date_format($"ts", "HH:mm").as("t"), $"ffill_value")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, "10:00", None),        // grid instant precedes the 10:05 obs
      (1L, "11:00", Some(1.0)),
      (1L, "12:00", Some(1.0)),   // null 11:10 "obs" dropped; 12:30 is later
      (2L, "09:00", Some(5.0))))
  }

  test("as-of join plans exactly ONE shuffle (the keyed window's exchange)") {
    val left = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0), (2L, 25L, 2.0)).toDF("k", "t", "v")
    val df = AsOf.joinBackward(left, right, "k", "t", "v", "vv")
    // the AQE wrapper hides its subtree from collect(); count in the plan text
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"as-of join should shuffle once on the key; got $exchanges:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoop"),
      "as-of should be a window pass, not a join")
  }

  test("as-of join: left rows before any right row get the null default") {
    val left = Seq((1L, 10L), (2L, 50L)).toDF("id", "t")
    val right = Seq((1L, 20L, 7.0)).toDF("id", "t", "v")
    val out = AsOf.joinBackward(
        left.withColumn("k", lit("a")), right.withColumn("k", lit("a")),
        "k", "t", "v", "vv")
      .select("id", "vv").as[(Long, Option[Double])].collect().toMap
    assert(out == Map(1L -> None, 2L -> Some(7.0)))
  }

  test("as-of join: null keys never match (pass through unmatched)") {
    val left = Seq((1L, 30L, Some("a")), (2L, 30L, None))
      .toDF("id", "t", "k")
    val right = Seq((10L, Some("a"), 1.0), (20L, None, 9.0))
      .toDF("t", "k", "v")
    val out = AsOf.joinBackward(left, right, "k", "t", "v", "vv")
      .select("id", "vv").as[(Long, Option[Double])].collect().toMap
    // null-key left row must NOT pick up the null-key right row's 9.0
    assert(out == Map(1L -> Some(1.0), 2L -> None))
  }

  test("as-of match is inclusive at equal timestamps") {
    val left = Seq((1L, 20L)).toDF("id", "t").withColumn("k", lit("a"))
    val right = Seq((9L, 20L, 3.0)).toDF("rid", "t", "v").withColumn("k", lit("a"))
    val out = AsOf.joinBackward(left, right, "k", "t", "v", "vv")
      .select("id", "vv").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3.0)))
  }

  test("hash split: row-to-split mapping survives repartitioning; fractions roughly hold") {
    val df = (1L to 2000L).map(i => (i, i * 7 % 1000)).toDF("idA", "idB")
    def mapping(d: org.apache.spark.sql.DataFrame) =
      graft.matching.Matcher.withHashSplit(d, Seq("idA", "idB"), Seq(0.7, 0.15, 0.15))
        .select("idA", "split").as[(Long, Int)].collect().toMap
    val base = mapping(df)
    assert(mapping(df.repartition(7)) == base)   // randomSplit would NOT survive this
    assert(mapping(df.coalesce(1)) == base)
    val frac0 = base.values.count(_ == 0).toDouble / base.size
    assert(math.abs(frac0 - 0.7) < 0.05, s"split-0 fraction $frac0")
  }

  test("weighted mean UDAF: hand-computed groups, zero-weight gives NaN") {
    val df = Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 0.0))
      .toDF("g", "x", "w")
    val out = df.groupBy("g").agg(WeightedMean(col("x"), col("w")).as("m"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(out("a") - 17.5) < 1e-12) // (10*1 + 20*3) / 4
    assert(out("b").isNaN)
  }

  test("partition-pruned scan reads only the filtered partition") {
    val out = "/root/repo/target/qtmp/spec_s7"
    Tables.orders(spark, sf).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    val scan = spark.read.parquet(out).where("o_orderstatus = 'F'")
    val plan = scan.queryExecution.executedPlan
    val files = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("o_orderstatus=F") || f.contains("o_orderstatus%3DF")),
      s"scan read beyond the pruned partition: ${files.mkString(", ")}")
  }

  test("EXISTS/NOT EXISTS decorrelate to semi/anti joins (no per-row subquery)") {
    val df = SparkEntry.queries("x4_exists_subquery")(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi"), phys.take(2000))
    assert(phys.contains("LeftAnti"), phys.take(2000))
  }

  test("correlated scalar subquery rewrites to an aggregate join") {
    val df = SparkEntry.queries("x5_scalar_subquery")(spark, sf)
    // one max-order row per customer with the max: never empty, never wider
    // than the customer count
    val n = df.count()
    val customers = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(n >= customers) // ties can produce extra rows
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("ScalarSubquery"), "subquery was not decorrelated")
  }

  test("scd2: hand-computed islands, intervals chain, ties break on the tie column") {
    val log = Seq(
      // key 1: A,A,B,A — runs [A x2][B][A], middle rows share a ts (tie
      // broken by id so the A at id=2 sorts before the B at id=3)
      (1L, 1L, ts("2024-01-01 10:00"), "A"),
      (1L, 2L, ts("2024-01-01 11:00"), "A"),
      (1L, 3L, ts("2024-01-01 11:00"), "B"),
      (1L, 4L, ts("2024-01-01 12:00"), "A"),
      // key 2: single row → one open current interval
      (2L, 5L, ts("2024-01-02 09:00"), "Z"))
      .toDF("k", "id", "t", "v")
    val got = graft.ops.History.scd2(log, "k", "t", "id", "v")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4), r.getLong(5)))
    assert(got.length == 4)
    val Array(r1, r2, r3, r4) = got
    assert(r1 == ((1L, "A", ts("2024-01-01 10:00"), Some(ts("2024-01-01 11:00")), false, 2L)))
    assert(r2 == ((1L, "B", ts("2024-01-01 11:00"), Some(ts("2024-01-01 12:00")), false, 1L)))
    assert(r3 == ((1L, "A", ts("2024-01-01 12:00"), None, true, 1L)))
    assert(r4 == ((2L, "Z", ts("2024-01-02 09:00"), None, true, 1L)))
  }

  test("scd2 plans exactly ONE shuffle — windows and run collapse share the key exchange") {
    val plan = SparkEntry.queries("w4_scd2")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("sliding windows: every event lands in exactly width/slide windows") {
    val agg = SparkEntry.queries("w5_sliding_window")(spark, sf)
    val total = agg.agg(sum("n")).as[Long].head()
    val events = Tables.events(spark, sf).count()
    assert(total == 2 * events)  // 10-min width / 5-min slide = 2 windows each
    // window starts align to the 5-minute epoch grid
    assert(agg.where(pmod(col("w_start_s"), lit(300)) =!= 0).count() == 0)
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s + ":00")

  test("batch sessionize: exact-gap boundary, per-key isolation, counts") {
    // gap = 60 s. key 1: events at 0 s, 60 s (EXACTLY the gap — same
    // session, > is strict), 121 s (61 s gap — new session).
    val base = ts("2024-01-01 00:00").getTime
    val mk = (ms: Long) => new java.sql.Timestamp(base + ms)
    val ev = Seq(
      (1L, 10L, mk(0L)), (1L, 11L, mk(60000L)), (1L, 12L, mk(121000L)),
      (2L, 20L, mk(0L)))
      .toDF("user_id", "event_id", "ts")
    val got = graft.ops.History.sessionize(ev, "user_id", "ts", "event_id", 60L)
      .orderBy("user_id", "session")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("globalRowNumber: equals the naive global window, without the 1-partition stage") {
    val df = Tables.customer(spark, sf).select($"c_custkey".as("id"), $"c_name".as("k"))
    val got = graft.ops.Rank.globalRowNumber(df, Seq("k", "id"), nPartitions = 7)
    // no Window at all (positions decode from monotonically_increasing_id)
    // and no exchange downstream of the single checkpointed range
    // partition — consumers read the materialized blocks directly
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window crept into the rank:\n$plan")
    assert(!plan.contains("Exchange"), s"extra shuffle:\n$plan")
    // and the ranks must equal the single-partition formulation exactly
    val naive = df.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy($"k", $"id")).cast("long"))
    assert(got.select("id", "rn").except(naive.select("id", "rn")).count() == 0)
    assert(naive.select("id", "rn").except(got.select("id", "rn")).count() == 0)
  }

  test("globalRowNumber: ranks are a stable permutation at LOW partition " +
       "counts (the boundary-resample regime)") {
    // RangePartitioner seeds its boundary sample by RDD id, so separate
    // executions of the same range exchange can place boundaries
    // differently; before the single-materialization fix, 4-partition
    // runs produced non-permutation ranks with a run-to-run-varying pair
    // count. Three rebuilds must agree exactly.
    val df = Tables.customer(spark, sf).select($"c_custkey".as("id"), $"c_name".as("k"))
    val runs = (1 to 3).map { _ =>
      val r = graft.ops.Rank.globalRowNumber(df, Seq("k", "id"), nPartitions = 4)
      val n = r.count()
      val stats = r.agg(min("rn"), max("rn"), countDistinct("rn")).head()
      assert(stats.getLong(0) == 1L && stats.getLong(1) == n &&
        stats.getLong(2) == n, s"ranks are not a permutation of 1..$n: $stats")
      r.select("id", "rn").as[(Long, Long)].collect().toSet
    }
    assert(runs.distinct.size == 1, "rank assignment varied across rebuilds")
  }

  test("sortedNeighborhood pairs equal the naive window-of-w formulation") {
    val pairs = SparkEntry.queries("j10_sorted_neighborhood")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val ranked = Tables.customer(spark, sf)
      .select($"c_custkey".as("id"), $"c_name".as("k"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"k", $"id")).cast("long"))
    val a = ranked.select($"id".as("idA"), $"rn".as("rnA"))
    val b = ranked.select($"id".as("idB"), $"rn".as("rnB"))
    val naive = a.crossJoin(b)
      .where(($"rnB" - $"rnA").between(1, 3))
      .select($"idA", $"idB", ($"rnB" - $"rnA").as("gap"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == naive && naive.nonEmpty)
  }

  test("bucketedRangeJoin equals the naive theta join (overlapping and " +
       "boundary intervals); plan has no broadcast nested loop") {
    import graft.ops.IntervalJoin
    // deterministic pseudo-random facts + OVERLAPPING intervals, with
    // exact-boundary cases (lo/hi on grid lines, point at hi excluded)
    val facts = spark.range(500)
      .select($"id", (pmod(xxhash64($"id"), lit(1000L)) / 10.0).as("v"))
    val ivals = spark.range(60).select(
      $"id".as("ival_id"),
      (pmod(xxhash64($"id", lit(7L)), lit(900L)) / 10.0).as("lo"))
      .withColumn("hi", $"lo" + (pmod(xxhash64($"ival_id", lit(13L)), lit(300L)) / 10.0))
    val got = IntervalJoin.bucketedRangeJoin(facts, "v", ivals, "lo", "hi", width = 7.0)
      .select("id", "ival_id").as[(Long, Long)].collect().toSet
    val naive = facts.crossJoin(ivals)
      .where($"v" >= $"lo" && $"v" < $"hi")
      .select("id", "ival_id").as[(Long, Long)].collect().toSet
    assert(got == naive && naive.nonEmpty)
    // each qualifying pair meets EXACTLY once (no dedup pass needed)
    val n = IntervalJoin.bucketedRangeJoin(facts, "v", ivals, "lo", "hi", width = 7.0)
      .groupBy("id", "ival_id").count().where($"count" > 1).count()
    assert(n == 0, "bucket fanout duplicated a pair")
    val plan = IntervalJoin.bucketedRangeJoin(facts, "v", ivals, "lo", "hi", 7.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"range join degenerated:\n$plan")
  }

  test("exactMedianTwoPass == percentile() bit-for-bit (fixture, odd/even, " +
       "duplicate-heavy, tiny, empty, nulls; certificate-failure fallback)") {
    import graft.queries.BreadthQueries.exactMedianTwoPass
    def oracle(df: org.apache.spark.sql.DataFrame, c: String): Option[Double] = {
      val r = df.agg(expr(s"percentile($c, 0.5)")).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    // the real fixture column the a12 baseline runs on — exact == (the
    // metric is a hash-compared oracle value, so bit-identity is the bar)
    val li = Tables.lineitem(spark, sf)
    assert(exactMedianTwoPass(li, "l_extendedprice") == oracle(li, "l_extendedprice"))
    // odd/even counts, duplicate-heavy values, interpolation between
    // distinct neighbors, nulls ignored
    val frames = Seq(
      Seq(3.0, 1.0, 2.0),                       // odd: exact middle
      Seq(4.0, 1.0, 3.0, 2.0),                  // even: interpolated
      Seq(5.0, 5.0, 5.0, 1.0),                  // duplicates at the median
      Seq(1.25, 1.25, 7.5, 7.5),                // even, equal-pair bracket
      Seq(2.0),                                 // singleton
      (1 to 5000).map(i => (i % 37).toDouble),  // heavy duplication
      (1 to 4999).map(i => i * 0.001)           // many distinct, odd count
    )
    frames.foreach { vs =>
      val df = vs.toDF("x")
      assert(exactMedianTwoPass(df, "x") == oracle(df, "x"), s"frame $vs")
    }
    // nulls excluded on both sides
    val withNulls = Seq(Some(1.0), None, Some(3.0), None, Some(2.0)).toDF("x")
    assert(exactMedianTwoPass(withNulls, "x") == oracle(withNulls, "x"))
    // empty input: both report no median
    val empty = Seq.empty[Double].toDF("x")
    assert(exactMedianTwoPass(empty, "x").isEmpty && oracle(empty, "x").isEmpty)
    // a decimal column: every pass reads the doubles percentile() reads
    Seq(Seq("1.10", "2.20", "3.35", "4.05"), (1 to 4999).map(i => s"${i % 97}.${i % 10}"))
      .foreach { vs =>
        val df = vs.toDF("s").select(col("s").cast("decimal(10,2)").as("x"))
        assert(exactMedianTwoPass(df, "x") == oracle(df, "x"), s"decimal frame of ${vs.size}")
      }
    // the a12 query over an empty lineitem: one row with a NULL exact_p50
    val emptyDir = java.nio.file.Files.createTempDirectory("a12_empty").toString
    try {
      Tables.lineitem(spark, sf).limit(0).write.parquet(s"$emptyDir/lineitem.parquet")
      val rows = SparkEntry.queries("a12_approx_sketch")(spark, emptyDir).collect()
      assert(rows.length == 1 && rows(0).isNullAt(rows(0).fieldIndex("exact_p50")))
    } finally graft.io.IO.deletePath(emptyDir)
    // cap 0: every band with rows inside overflows, so narrowing runs
    // until both order statistics sit on the band's ends — still exact
    val big = (1 to 1000).map(_.toDouble).toDF("x")
    assert(exactMedianTwoPass(big, "x", bandCap = 0L) == oracle(big, "x"))
  }

  test("exactMedianTwoPass narrows a band over bandCap instead of falling " +
       "back (n ≥ 100 × bandCap, bit-identical to percentile())") {
    import graft.queries.BreadthQueries.exactMedianTwoPass
    val rnd = new scala.util.Random(11)
    val frames: Seq[(Seq[Double], Long)] = Seq(
      // distinct values, even count: the first band holds ~160 rows
      ((1 to 20000).map(_ => rnd.nextGaussian() * 100), 100L),
      // heavy duplication, odd count
      ((1 to 20001).map(i => (i % 1500) * 0.5), 100L),
      // heavy band ends: the median sits among 20 values between two
      // 10k-row blocks
      (Seq.fill(10000)(1.0) ++ (1 to 20).map(i => 1.0 + i / 21.0) ++
        Seq.fill(10000)(2.0), 5L),
      // the lower middle statistic is the last row of a heavy block, the
      // higher one the first of 10k distinct values above it
      (Seq.fill(10000)(1.0) ++ (1 to 10000).map(i => 1.0 + i * 1e-3), 10L))
    obs.drain()
    frames.foreach { case (vs, cap) =>
      assert(vs.size >= 100 * cap)
      val df = vs.toDF("x").repartition(4)
      val r = df.agg(expr("percentile(x, 0.5)")).head()
      assert(exactMedianTwoPass(df, "x", bandCap = cap).contains(r.getDouble(0)),
        s"frame of ${vs.size} at cap $cap")
    }
    val fallbacks = obs.drain().filter(_.path.endsWith("median_fallback"))
    assert(fallbacks.isEmpty, s"percentile() fallback ran: $fallbacks")
  }
}
