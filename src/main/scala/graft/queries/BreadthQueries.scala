package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, obs}
import graft.functions.WeightedMean
import graft.ops.{AsOf, Resample}
import graft.streaming.EventStreams

/** Relational breadth beyond the reference's own surface: pivot, cube /
  * grouping sets, set ops, as-of + range (theta) joins, correlated
  * subqueries, a custom typed UDAF, and partition-pruned scans — the
  * operators a user of a general analytics engine reaches for next, each
  * with a DuckDB oracle.
  */
object BreadthQueries {

  type Q = (SparkSession, String) => DataFrame

  private def views(s: SparkSession, dir: String): Unit = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
  }

  /** Two-pass bounded-memory EXACT median of a non-null-filtered double
    * column — bit-identical to `percentile(c, 0.5)` (optimization round
    * 15, guide §5): the percentile() aggregate buffers every distinct
    * value per partial (583k doubles for a12's baseline at sf0.1 — the
    * query's dominant cost and a per-executor memory cliff at any scale).
    * Instead: pass 1 takes a GK-certified value band [lo, hi] bracketing
    * the two middle order statistics (approx_percentile's rank error is
    * deterministically ≤ n/accuracy, so quantiles 0.5 ∓ 0.004 at accuracy
    * 1000 bound rank 0.5·(n−1) from both sides with ~3× margin for any
    * n ≳ 400); pass 2 counts the rows below and at each end of the band
    * and collects the ~0.8% of rows strictly inside it, sorted. A band
    * holding more than `bandCap` inside rows is NARROWED instead of
    * collected: approx_percentile re-brackets the two order statistics
    * among the inside rows, at their rank offsets within them and with the
    * same margins, and the counts are taken again — each round keeps
    * ~0.8% of the band, so the loop ends after O(log(n / bandCap)) rounds
    * (and always: an end that is not an answer moves strictly inward).
    * The interpolation replicates Percentile.getPercentile operation for
    * operation: position p = 0.5·(n−1) (the same long→double multiply),
    * v[⌊p⌋] when p is integral or the bracketing values coincide, else
    * (⌈p⌉−p)·v[⌊p⌋] + (p−⌊p⌋)·v[⌈p⌉] — the same doubles through the same
    * arithmetic, so the result is equal bit-for-bit (pinned by
    * BreadthSpec against percentile() on the real fixture plus
    * odd/even/duplicate-heavy frames). The band certificate
    * (#(x < lo) ≤ ⌊p⌋ ∧ ⌈p⌉ < #(x ≤ hi)) is CHECKED every round; a failed
    * certificate or a NULL bracket delegates to the percentile()
    * aggregate under the `median_fallback` span, so the exact contract
    * can never silently weaken. A band within the cap costs two scans of
    * `values` plus the band collect; each narrowing round adds two scans.
    * Every pass reads the column cast to double, the values percentile()
    * itself interpolates, so a decimal column's passes agree on band
    * membership. */
  private[graft] def exactMedianTwoPass(values: DataFrame, c: String,
                                        bandCap: Long = 200000L): Option[Double] = {
    import values.sparkSession.implicits._
    def fallback: Option[Double] = obs.span("median_fallback") {
      val r = values.agg(expr(s"percentile($c, 0.5)")).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val x = col(c).cast("double")
    def bracket(p1: Double, p2: Double): Column = percentile_approx(x,
      array(lit(math.max(0.0, p1)), lit(math.min(1.0, p2))), lit(1000))
    def rows(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    val r1 = values.agg(count(x).as("n"), bracket(0.496, 0.504).as("bracket")).head()
    val n = r1.getLong(0)
    val pos = 0.5 * (n - 1)
    val (lower, higher) = (pos.floor.toLong, pos.ceil.toLong)
    def interpolate(vLower: Double, vHigher: Double): Double =
      if (higher == lower || vHigher == vLower) vLower
      else (higher - pos) * vLower + (pos - lower) * vHigher
    @scala.annotation.tailrec
    def narrow(lo: Double, hi: Double): Option[Double] = {
      val r2 = values.agg(rows(x < lo), rows(x <= lo), rows(x < hi), rows(x <= hi)).head()
      val (ltLo, leLo, ltHi, leHi) = (r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3))
      val inside = x > lo && x < hi
      val nInside = math.max(0L, ltHi - leLo)
      // ranks below leLo hold lo, ranks from ltHi on hold hi
      def atEnd(k: Long): Option[Double] =
        if (k < leLo) Some(lo) else if (k >= ltHi) Some(hi) else None
      if (ltLo > lower || higher >= leHi) fallback
      else (atEnd(lower), atEnd(higher)) match {
        case (Some(vl), Some(vh)) => Some(interpolate(vl, vh))
        case _ if nInside <= bandCap =>
          val band = values.where(inside).select(x.as("x"))
            .sort("x").as[Double].collect() // bounded: nInside ≤ bandCap
          def at(k: Long): Double = atEnd(k).getOrElse(band((k - leLo).toInt))
          Some(interpolate(at(lower), at(higher)))
        case (endLower, endHigher) =>
          val rb = values.where(inside).agg(bracket(
            (lower - leLo).toDouble / nInside - 0.004,
            (higher - leLo + 1).toDouble / nInside + 0.004)).head()
          if (rb.isNullAt(0)) fallback
          else {
            val b = rb.getSeq[Double](0)
            narrow(endLower.getOrElse(b(0)), endHigher.getOrElse(b(1)))
          }
      }
    }
    if (n == 0L) None
    else if (r1.isNullAt(1)) fallback
    else {
      val b = r1.getSeq[Double](1)
      narrow(b(0), b(1))
    }
  }

  val defs: Seq[(String, Q)] = Seq(
    // DQ1 — one-pass column profile (Deequ-style metrics): per column,
    // row/null/exact-distinct counts and min/max — ONE aggregation job,
    // ncols output rows however large the table (the exact-distinct
    // Expand cost is documented on the operator; approxDistinct=true is
    // the monitoring mode). String-typed min/max keep the frame
    // cross-engine comparable.
    "dq_profile" -> ((s, dir) =>
      graft.ops.DataQuality.profile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    // DQ2 — constraint checks: uniqueness / completeness / predicate
    // conformance share one conditional-aggregation pass; referential
    // integrity (child keys with no parent) is the one extra (anti-)join,
    // parent side broadcast. Violation counts are SQL-exact.
    "dq_checks" -> ((s, dir) => {
      import graft.ops.DataQuality._
      val orders = Tables.orders(s, dir)
      checks(orders, Seq(
          unique(Seq("o_orderkey")),
          complete("o_custkey"),
          satisfies("positive_total", col("o_totalprice") > 0)))
        .unionByName(referential(orders, "o_custkey",
          Tables.customer(s, dir), "c_custkey"))
    }),

    // A8 — pivot: per-priority order value by status, statuses as columns.
    // Explicit pivot values keep the plan a single pass (no distinct-scan
    // to discover columns — at scale the value list must be declared).
    "a8_pivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum("o_totalprice"), 2))),

    // A9 — cube: full subtotal lattice over (status, priority).
    "a9_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))),

    // A10 — grouping sets (explicit lattice, SQL surface).
    "a10_grouping_sets" -> ((s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),

    // A11 — custom typed UDAF: weighted mean runs as a real partial/final
    // aggregate (map-side combine; one 16-byte buffer per group shuffled).
    "a11_weighted_mean" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(WeightedMean(col("l_extendedprice"), col("l_quantity")), 4)
          .as("wavg_price"))),

    // U3 — set intersection (nations having both customers and suppliers).
    "u3_intersect" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))),

    // U4 — set difference (nations with customers but no suppliers).
    "u4_except" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))),

    // J7 — as-of join: each click gets the user's most recent
    // prior-or-equal purchase value (union+window form — one shuffle,
    // never a per-key cross join).
    "j7_asof_join" -> ((s, dir) => {
      // ts IS NOT NULL: an as-of join positions rows on the time axis; a
      // timeless row has no "as of" (the oracle's ASOF condition also
      // rejects NULL), and Spark's carry-window sorts NULL ts first while
      // DuckDB sorts it last — keeping such rows diverges the carry chain
      val ev = EventStreams.readEvents(s, dir).where(col("ts").isNotNull)
      val clicks = ev.where("event_type = 'click'")
        .select("event_id", "user_id", "ts")
      // unique (key, ts) on the right side — as-of contract
      val purchases = ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts").agg(max("value").as("pval"))
      AsOf.joinBackward(clicks, purchases, "user_id", "ts", "pval", "lp")
        .select(col("event_id"), col("user_id"),
          round(coalesce(col("lp"), lit(-1.0)), 2).as("last_purchase_value"))
    }),

    // W3 — regular-grid resampling with backward fill (gap filling): one
    // hourly row per user spanning their activity, carrying the most
    // recent value. Grid = scan-side generator; fill = the as-of join's
    // single-shuffle union+window plan. Leading gaps stay NULL.
    "w3_resample" -> ((s, dir) => {
      val ev = EventStreams.readEvents(s, dir)
        .where(col("user_id") < 100 && col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("value"))
      Resample.resampleFfill(ev, "user_id", "ts", "value", "hour")
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("grid_ts"),
          round(col("ffill_value"), 2).as("ffill_value"))
    }),

    // J8 — range (theta) join against a broadcast interval table: price
    // band assignment. The band side is tiny and replicated; the fact side
    // streams through a broadcast nested-loop — the right plan when the
    // interval table fits in memory (the alternative at scale: bucket the
    // fact by floor(price/width) and equi-join).
    "j8_range_band" -> ((s, dir) => {
      val bands = s.range(0, 10).select(col("id").as("band_id"),
        (lit(900.0) + col("id") * 10).as("lo"),
        (lit(910.0) + col("id") * 10).as("hi"))
      Tables.part(s, dir).join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_price"))
    }),

    // J9 — edit-distance (Levenshtein <= 1) fuzzy self-join via the
    // deletion-neighborhood equi-join (FastSS): a COMPLETE k=1 candidate
    // filter with an exact distance check, never an all-pairs comparison.
    // The oracle is the naive cross join — candidate completeness is
    // exactly what the hash compare pins.
    "j9_edit_join" -> ((s, dir) =>
      graft.ops.EditDistance.selfJoin(
        Tables.customer(s, dir), "c_custkey", "c_name")),

    // J12 — the same band assignment as J8 through the SCALE-PATH range
    // join: both sides bucket on a fixed-width grid and EQUI-join the
    // bucket (no broadcast, no nested loop — the plan that survives an
    // interval table too large for memory). Identical results to the BNL
    // form by construction; the shared oracle pins it.
    "j12_bucketed_range" -> ((s, dir) => {
      val bands = s.range(0, 10).select(col("id").as("band_id"),
        (lit(900.0) + col("id") * 10).as("lo"),
        (lit(910.0) + col("id") * 10).as("hi"))
      graft.ops.IntervalJoin.bucketedRangeJoin(
          Tables.part(s, dir), "p_retailprice", bands, "lo", "hi", width = 10.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_price"))
    }),

    // J11 — Jaro–Winkler scored pairs through the NATIVE codegen
    // expression (functions.JaroWinkler): residue-blocked name pairs,
    // typo-tolerant similarity, threshold on the rounded score so the
    // cross-engine boundary sits on a 4-dp grid point in both engines
    // (same rationale as ann_range_search). Full-value oracle against
    // DuckDB's jaro_winkler_similarity — value-for-value agreement of
    // two independent implementations of the canonical algorithm.
    "j11_jaro_winkler" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        col("c_name").as("name"), pmod(col("c_custkey"), lit(50L)).as("g"))
      c.as("a").join(c.as("b"),
          col("a.g") === col("b.g") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(graft.functions.JaroWinkler.jaro_winkler(
            col("a.name"), col("b.name")), 4).as("jw"))
        .where(col("jw") >= 0.97)
    }),

    // J10 — sorted-neighborhood blocking (the classic ER candidate
    // generator when a meaningful sort key exists): global positions via
    // the scalable range-partition + offset rank (NO single-partition
    // window), pairs within the w=4 window via a position-bucket
    // equi-join. Full-value oracle against the naive global row_number.
    "j10_sorted_neighborhood" -> ((s, dir) =>
      // null-key guard is symmetric with the oracle: Spark sorts NULLS
      // FIRST, DuckDB NULLS LAST — a null name would silently shift every
      // rank between engines (and a null blocking key is meaningless for
      // SNM anyway)
      graft.ops.Rank.sortedNeighborhoodPairs(
        Tables.customer(s, dir).where(col("c_name").isNotNull),
        "c_custkey", "c_name", w = 4)),

    // W4 — SCD Type-2 history build (gaps-and-islands): each customer's
    // order-status change log collapses to validity intervals. Every
    // window and the run-collapsing aggregate key on o_custkey, so the
    // whole history is ONE hash exchange (asserted in BreadthSpec).
    "w4_scd2" -> ((s, dir) => {
      val hist = graft.ops.History.scd2(
          Tables.orders(s, dir)
            .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
          keyCol = "o_custkey", tsCol = "o_orderdate", tieCol = "o_orderkey",
          valueCol = "o_orderstatus")
        .withColumnRenamed("value", "status")
      // open intervals close at the conventional SCD2 high date rather
      // than NULL — the is_current flag carries the semantics and the
      // cross-engine compare never sees a NULL timestamp. Cast to the
      // log's own timestamp type (NTZ on the parquet fixtures).
      hist.withColumn("valid_to",
        coalesce(col("valid_to"),
          lit("9999-12-31 00:00:00").cast(hist.schema("valid_to").dataType)))
    }),

    // W5 — epoch-aligned sliding windows (10-minute width, 5-minute
    // slide) over the event stream, in batch: each event lands in
    // width/slide windows via the built-in generator — a scan-side
    // explode, then one aggregation exchange. Window starts emit as
    // epoch seconds (timezone-proof across engines).
    "w5_sliding_window" -> ((s, dir) =>
      // null-ts guard is symmetric with the oracle: Spark's window()
      // silently drops null timestamps, DuckDB's epoch() would group them
      Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        // ts is TIMESTAMP_NTZ off the parquet fixture; NTZ has no direct
        // long cast, so hop through TIMESTAMP (session tz pinned UTC)
        .select(col("window.start").cast("timestamp").cast("long").as("w_start_s"),
          col("event_type"), col("n"), col("total_value"))),

    // W7 — the full ranking-window family in one pass: rank, dense_rank,
    // ntile, percent_rank, cume_dist share ONE window definition, so the
    // whole suite costs a single hash exchange on the partition key (the
    // order columns make the frame a total order — every function is
    // deterministic and fully value-checkable).
    "w7_window_suite" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
    }),

    // X9 — array higher-order functions (transform / filter / aggregate):
    // the lambda forms stay scan-side expressions, so per-row array work
    // never shuffles and never leaves the JVM.
    "x9_hof_suite" -> ((s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"), split(col("p_name"), " ").as("arr"))
        .select(col("p_partkey"),
          array_join(transform(col("arr"), x => upper(x)), ",").as("upper_csv"),
          size(filter(col("arr"), x => length(x) > 4)).as("n_long"),
          aggregate(col("arr"), lit(0), (acc, x) => acc + length(x)).as("total_len"))),

    // W6 — BATCH sessionization (gaps-and-islands, 30-min gap): the
    // offline counterpart of the streaming st_sessionize family, one
    // key exchange for the whole build. Gap compare runs in exact
    // integer microseconds (the fixture carries sub-second times).
    "w6_sessionize_batch" -> ((s, dir) =>
      graft.ops.History.sessionize(
          Tables.events(s, dir).where(col("ts").isNotNull)
            .select("user_id", "event_id", "ts"),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          gapSeconds = 1800L)
        .withColumn("session", col("session").cast("long"))),

    // S13 — Z-ORDER re-layout + file-skipping contract: lineitem written
    // Z-ordered on (l_partkey, l_suppkey); per-file min/max spans must be
    // narrow on BOTH columns (the property parquet footer pruning turns
    // into skipped files — a single-column sort leaves the second column
    // at ~full span per file). Row count is exact; the clustering bounds
    // surface as booleans (file boundaries themselves are
    // sampling-dependent, so spans are the stable contract).
    "s13_zorder_layout" -> ((s, dir) => {
      import s.implicits._
      val out = s"${graft.Sweep.Qtmp}/s13_zorder"
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey", "l_orderkey")
      graft.ops.Layout.zorderWrite(li, out, Seq("l_partkey", "l_suppkey"),
        nFiles = 16, bits = 10)
      val back = s.read.parquet(out)
      val sp = graft.ops.Layout.fileSpans(back, Seq("l_partkey", "l_suppkey"))
        .agg(avg("span_l_partkey"), avg("span_l_suppkey")).head()
      Seq((back.count(), sp.getDouble(0) < 0.6, sp.getDouble(1) < 0.6))
        .toDF("n_rows", "partkey_clustered", "suppkey_clustered")
    }),

    // A14 — approximate heavy hitters (`freqItems`, the FP-growth-free
    // single-pass sketch): bounded state through one scan, with the
    // published guarantee that every TRUE heavy hitter above the support
    // threshold appears in the result (false positives allowed — the
    // exact check is the affordable post-filter). Contract: the exact
    // heavy-hitter count is SQL-computable; the no-false-negative
    // guarantee surfaces as a boolean.
    "a14_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val n = orders.count()
      // exact heavy hitters: priorities covering > 15% of orders
      val exact = orders.groupBy("o_orderpriority").count()
        .where(col("count") > n * 0.15)
        .select("o_orderpriority").as[String].collect().toSet
      val sketched = orders.stat.freqItems(Seq("o_orderpriority"), 0.15)
        .select(col("o_orderpriority_freqItems"))
        .as[Seq[String]].head().toSet
      Seq((exact.size.toLong, exact.subsetOf(sketched)))
        .toDF("n_exact_heavy", "no_false_negatives")
    }),

    // X4 — correlated EXISTS / NOT EXISTS subqueries (decorrelated by
    // Catalyst into semi/anti joins — asserted in BreadthSpec).
    "x4_exists_subquery" -> ((s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT c_custkey, c_name FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |  AND NOT EXISTS (SELECT 1 FROM orders_v o
          |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin)
    }),

    // X5 — correlated scalar subquery (each customer's costliest order;
    // max() keeps the double comparison exact on both engines).
    "x5_scalar_subquery" -> ((s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
          |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders_v o2
          |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    }),

    // A12 — approximate sketches (HLL distinct count, quantile sketch)
    // with a *verifiable* contract: the query emits the exact values plus
    // booleans asserting the sketch landed inside its error bound, so the
    // oracle can hash-check it even though sketch internals differ across
    // engines. At 100 TB the sketches are the affordable path (fixed-size
    // state through the shuffle vs a full distinct/sort); this query pins
    // that they stay honest.
    "a12_approx_sketch" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      // single-purpose aggregates (round 13's rule, kept: countDistinct
      // next to ANY other aggregate forces an Expand that pushes the row
      // stream through every sibling aggregate twice — merging the
      // percentile sketch into the nd agg measured 3.9 → 6.5 s before this
      // split); the exact-percentile BASELINE runs through the two-pass
      // bounded-memory [[exactMedianTwoPass]] (round 15, guide §5) instead
      // of the distinct-value-buffering percentile() aggregate — value
      // bit-identical (BreadthSpec pins it), memory bounded.
      val ndRow = li.agg(
        countDistinct(col("l_partkey")).as("exact_nd"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd")).head()
      val (exactNd, approxNd) = (ndRow.getLong(0), ndRow.getLong(1))
      // accuracy 1000 = 0.1% rank error — 10× tighter than the 1%
      // bound asserted below, at a tenth of the sketch size
      val approxP50 = Option(li.agg(
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50"))
        .head().getAs[java.lang.Double](0)).map(_.doubleValue)
      // no values, no median: NULL exact_p50, as percentile() reports
      val exactP50 = exactMedianTwoPass(li, "l_extendedprice")
      Seq((exactNd,
          math.abs(approxNd - exactNd).toDouble / exactNd <= 0.05,
          // same decimal-string HALF_UP as Spark's round() on doubles
          exactP50.map(e => BigDecimal(e).setScale(4,
            scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble),
          for (e <- exactP50; a <- approxP50) yield math.abs(a - e) / e <= 0.01))
        .toDF("exact_nd", "hll_within_5pct", "exact_p50", "quantile_within_1pct")
    }),

    // X7 — correlated LATERAL subquery with per-row ORDER BY + LIMIT
    // (top-2 orders per customer): the SQL surface for "top-k per group".
    // Catalyst rewrites the correlated limit into a ranked window join —
    // no per-row re-execution (asserted by PlanAuditSpec).
    "x7_lateral_topk" -> ((s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_v c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin)
    }),

    // X6 — schema'd JSON extraction from a string column (the semi-
    // structured payload every event pipeline carries). from_json with a
    // declared schema beats get_json_object at scale: one parse per row
    // into an InternalRow, column-prunable, no per-field re-parse.
    "x6_json_extract" -> ((s, dir) => {
      val ev = EventStreams.readEvents(s, dir)
      ev.select(col("event_type"),
          from_json(col("props"), "k INT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"))
    }),

    // S7 — partition-pruned scan: write partitioned by status, read one
    // partition back (BreadthSpec asserts the scan's PartitionFilters
    // prune to a single directory).
    "s7_partition_pruned" -> ((s, dir) => {
      val out = s"${graft.Sweep.Qtmp}/s7_partitioned"
      Tables.orders(s, dir).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out).where("o_orderstatus = 'F'")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "a8_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "a9_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "a10_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "a11_weighted_mean" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "u3_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin,
    "u4_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier""".stripMargin,
    "j7_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS tsu,
        |                  event_type, value FROM events WHERE ts IS NOT NULL),
        |a AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id, tsu, max(value) AS pval FROM e
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT a.event_id, a.user_id,
        |       round(coalesce(b.pval, -1.0), 2) AS last_purchase_value
        |FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.tsu >= b.tsu""".stripMargin,
    // same grid + backward-carry semantics: per-user hourly series from
    // trunc(min ts) to trunc(max ts), ASOF fill, leading gaps NULL
    "w3_resample" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, value
        |           FROM events WHERE user_id < 100 AND ts IS NOT NULL),
        |u AS (SELECT user_id, ts, max(value) AS value FROM e
        |      WHERE value IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0,
        |             date_trunc('hour', max(ts)) AS t1 FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
        |      FROM s)
        |SELECT g.user_id, strftime(g.grid_ts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
        |  round(u.value, 2) AS ffill_value
        |FROM g ASOF LEFT JOIN u ON g.user_id = u.user_id AND g.grid_ts >= u.ts""".stripMargin,
    "j8_range_band" ->
      """SELECT b.band_id, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(p_retailprice), 4) AS avg_price
        |FROM part JOIN (SELECT range AS band_id, 900.0 + range * 10 AS lo,
        |                       910.0 + range * 10 AS hi
        |                FROM range(0, 10)) b
        |  ON p_retailprice >= b.lo AND p_retailprice < b.hi
        |GROUP BY b.band_id""".stripMargin,
    // the bucketed scale path must produce the identical band assignment
    "j12_bucketed_range" ->
      """SELECT b.band_id, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(p_retailprice), 4) AS avg_price
        |FROM part JOIN (SELECT range AS band_id, 900.0 + range * 10 AS lo,
        |                       910.0 + range * 10 AS hi
        |                FROM range(0, 10)) b
        |  ON p_retailprice >= b.lo AND p_retailprice < b.hi
        |GROUP BY b.band_id""".stripMargin,
    // full-value: the naive all-pairs formulation — both engines implement
    // standard unit-cost Levenshtein, so the blocked engine result must
    // equal it exactly (completeness of the deletion-neighborhood filter)
    "j9_edit_join" ->
      """SELECT a.c_custkey AS idA, b.c_custkey AS idB,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // full-value: the naive global row_number formulation — the engine's
    // range-partitioned rank + bucket join must reproduce it exactly
    "j10_sorted_neighborhood" ->
      """WITH r AS (SELECT c_custkey AS id,
        |             row_number() OVER (ORDER BY c_name, c_custkey) AS rn
        |           FROM customer WHERE c_name IS NOT NULL)
        |SELECT a.id AS idA, b.id AS idB, CAST(b.rn - a.rn AS BIGINT) AS gap
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3""".stripMargin,
    // full-value: the identical gaps-and-islands pipeline in DuckDB terms
    // (lag change flags -> running-sum islands -> run collapse -> lead)
    "w4_scd2" ->
      """WITH ch AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |fl AS (SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderstatus
        |                      THEN 1 ELSE 0 END AS chg FROM ch),
        |isl AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS island FROM fl),
        |g AS (SELECT o_custkey, island, min(o_orderstatus) AS status,
        |        min(o_orderdate) AS valid_from, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM isl GROUP BY o_custkey, island)
        |SELECT o_custkey, status, valid_from,
        |  coalesce(lead(valid_from) OVER wi,
        |           TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
        |  (lead(valid_from) OVER wi IS NULL) AS is_current, n_rows
        |FROM g WINDOW wi AS (PARTITION BY o_custkey ORDER BY island)""".stripMargin,
    // full-value: each event expands to width/slide = 2 epoch-aligned
    // window starts; starts compare as epoch seconds (timezone-proof)
    "w5_sliding_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - k.k * 300 AS w_start_s,
        |  event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS k) k
        |WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // full-value: the identical lag/flag/cumsum/collapse pipeline with
    // exact epoch_us microsecond arithmetic
    "w6_sessionize_batch" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |        OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000
        |        THEN 1 ELSE 0 END AS nw FROM o),
        |i AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session
        |      FROM f)
        |SELECT user_id, CAST(session AS BIGINT) AS session,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM i GROUP BY user_id, session""".stripMargin,
    // contract: the exact heavy-hitter count is SQL-computable; the
    // sketch's no-false-negative guarantee surfaces as a boolean
    "dq_profile" -> {
      def colSql(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(colSql).mkString("\nUNION ALL\n")
    },
    "dq_checks" ->
      """SELECT 'unique(o_orderkey)' AS "check",
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
        |  count(o_orderkey) = count(DISTINCT o_orderkey) AS passed FROM orders
        |UNION ALL
        |SELECT 'complete(o_custkey)',
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'positive_total',
        |  CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT),
        |  sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'referential(o_custkey -> c_custkey)',
        |  CAST(count(*) AS BIGINT), count(*) = 0
        |FROM orders o WHERE o.o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,
    "j11_jaro_winkler" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 50 = b.c_custkey % 50 AND a.c_custkey < b.c_custkey
        |WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 4) >= 0.97""".stripMargin,
    "w7_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "x9_hof_suite" ->
      """SELECT p_partkey,
        |  array_to_string(list_transform(arr, x -> upper(x)), ',') AS upper_csv,
        |  CAST(len(list_filter(arr, x -> length(x) > 4)) AS INT) AS n_long,
        |  CAST(list_sum(list_transform(arr, x -> length(x))) AS INT) AS total_len
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS arr FROM part)""".stripMargin,
    "s13_zorder_layout" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  true AS partkey_clustered, true AS suppkey_clustered
        |FROM lineitem""".stripMargin,
    "a14_heavy_hitters" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_exact_heavy, true AS no_false_negatives
        |FROM (SELECT o_orderpriority FROM orders GROUP BY o_orderpriority
        |      HAVING count(*) > (SELECT count(*) FROM orders) * 0.15)""".stripMargin,
    "x4_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin,
    "x5_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "a12_approx_sketch" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
        |  true AS hll_within_5pct,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        |  true AS quantile_within_1pct
        |FROM lineitem""".stripMargin,
    "x7_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin,
    "x6_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    "s7_partition_pruned" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""".stripMargin
  )
}
