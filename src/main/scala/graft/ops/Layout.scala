package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout — Z-ORDER clustering for file skipping.
  *
  * A 100 TB table is usually range-laid on ONE column (its write order or
  * an explicit sort), so min/max footer stats prune scans on that column
  * and no other. Z-ordering interleaves the bits of several columns' rank
  * codes into one clustering key: sorting by the interleaved key keeps
  * rows close in EVERY ordered dimension, so per-file min/max ranges stay
  * narrow on all of them and a predicate on any Z-column skips most files
  * (the OPTIMIZE ZORDER capability of lakehouse table formats; Morton
  * 1966 is the public construction).
  *
  * Plan shape, all codegen: one tiny agg collects each column's min/max
  * (a single row to the driver); the bucket code is `width_bucket` and
  * the interleave is a shift/mask expression tree — both run map-side in
  * whole-stage codegen; the only exchange is the `repartitionByRange` on
  * the Z-value that every global re-layout pays by definition (sampled
  * range boundaries, AQE-sized). Equi-width codes keep the fit pass to
  * min/max only; a heavily skewed column wants quantile codes instead —
  * the seam is [[zvalue]]'s `codes` argument, and the skew trade is the
  * same one `width_bucket` users accept everywhere.
  */
object Layout {

  /** Bit-interleave `codes` (each in [0, 2^bits)) into one Morton value.
    * Column i contributes bit b to output position `b * n + i` — pure
    * shift/mask arithmetic, stays inside whole-stage codegen. */
  def interleaveBits(codes: Seq[Column], bits: Int): Column = {
    require(codes.nonEmpty && bits >= 1 && bits * codes.size <= 63,
      s"${codes.size} columns x $bits bits must fit a long")
    val n = codes.size
    (for {
      b <- 0 until bits
      (c, i) <- codes.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i))
      .reduce(_ bitwiseOR _)
  }

  /** Equi-width rank code of `c` over [lo, hi] in [0, 2^bits): the
    * `width_bucket` form every engine vectorizes. Nulls code to 0 (they
    * cluster together at the low edge, which is what a null-heavy scan
    * predicate wants pruned anyway). */
  def widthCode(c: Column, lo: Column, hi: Column, bits: Int): Column =
    // degenerate spans short-circuit to code 0: width_bucket with lo == hi
    // yields NULL (and an all-null column has NULL lo/hi), which would
    // NULL every row's Z-value and collapse the range partitioning on ALL
    // columns — a constant column must instead contribute a constant bit
    // pattern and leave the other columns' clustering intact
    when(c.isNull || lo.isNull || hi.isNull ||
         lo.cast("double") === hi.cast("double"), lit(0L))
      .otherwise(
        // width_bucket yields 1..B inside the range (B+1 at c = hi); shift
        // to 0-based and clamp the top edge back into the last code
        least(width_bucket(c.cast("double"), lo.cast("double"),
          hi.cast("double"), lit(1 << bits)) - 1, lit((1 << bits) - 1)))

  /** The Z-value of `cols` for this frame: min/max of each column from one
    * tiny aggregate (a single driver row), then width codes interleaved. */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int = 12): Column = {
    val stats = df.agg(
      struct(cols.flatMap(c =>
        Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))): _*).as("s"))
      .head().getStruct(0)
    val codes = cols.zipWithIndex.map { case (c, i) =>
      widthCode(col(c), lit(stats.get(2 * i)), lit(stats.get(2 * i + 1)), bits)
    }
    interleaveBits(codes, bits)
  }

  /** The Z-ordered re-layout frame: range-partition + local sort on the
    * Z-value, then drop it. The ONE definition of the re-layout pipeline
    * — [[zorderWrite]] writes it, and PlanAuditSpec's exchange-count
    * assert reads the plan of that write as it ran. */
  def zorderFrame(df: DataFrame, cols: Seq[String],
                  nFiles: Int, bits: Int = 12): DataFrame = {
    val z = "__graft_zval"
    df.withColumn(z, zvalue(df, cols, bits))
      .repartitionByRange(nFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
  }

  /** Re-layout `df` Z-ordered on `cols` into ~`nFiles` files at `path` —
    * the written files carry only the original schema, clustered so
    * parquet footer min/max stats prune on every Z-column. */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String],
                  nFiles: Int, bits: Int = 12): Unit =
    zorderFrame(df, cols, nFiles, bits)
      .write.mode("overwrite").parquet(path)

  /** Per-file clustering report of a written table: for each file and each
    * of `cols`, the fraction of the column's global span the file's
    * [min, max] covers. The quantity file skipping is made of — a scan
    * with a predicate on column c reads only files whose c-range
    * intersects it, so mean span ≈ expected scan fraction. One pass:
    * group by `input_file_name` (partial-combined; #files rows move). */
  def fileSpans(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perFile = df
      .withColumn("__file", input_file_name())
      .groupBy("__file")
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))): _*)
    val spans = cols.foldLeft(perFile) { (acc, c) =>
      acc.crossJoin(broadcast(
          df.agg(min(col(c)).cast("double").as(s"glo_$c"),
                 max(col(c)).cast("double").as(s"ghi_$c"))))
        .withColumn(s"span_$c",
          // a constant (or all-null) column has zero global span; its
          // division would emit NaN/NULL — report 0.0 (a file trivially
          // covers none of a zero-width span) and keep NULL only for the
          // all-null case where no span exists at all
          when(col(s"ghi_$c").isNull || col(s"glo_$c").isNull,
            lit(null).cast("double"))
          .when(col(s"ghi_$c") === col(s"glo_$c"), lit(0.0))
          .otherwise((col(s"hi_$c") - col(s"lo_$c")).cast("double") /
            (col(s"ghi_$c") - col(s"glo_$c"))))
        .drop(s"glo_$c", s"ghi_$c")
    }
    spans.select(col("__file").as("file") +: col("n_rows") +:
      cols.map(c => col(s"span_$c")): _*)
  }
}
