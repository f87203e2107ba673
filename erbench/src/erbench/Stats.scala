package erbench

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Summary statistics the benchmark reports. Every timing is reported as a
  * median plus the highest ladder percentile that still has at least ten
  * samples beyond it, together with the sample count; every ratio carries
  * its numerator and denominator. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** The percentile rule needs this many samples strictly beyond the
    * reported percentile. */
  val MinBeyond = 10

  /** 1-based nearest-rank index of percentile `p` in `n` sorted samples. */
  def rankIndex(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rankIndex(n, p)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rankIndex(xs.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail percentile together with the evidence behind it. */
  case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  /** The highest [[Ladder]] percentile with at least `minBeyond` samples
    * beyond it; None when even the median lacks them. */
  def tail(xs: Seq[Double], minBeyond: Int = MinBeyond): Option[Tail] =
    Ladder.reverse.find(p => beyond(xs.size, p) >= minBeyond)
      .map(p => Tail(p, percentile(xs, p), xs.size, beyond(xs.size, p)))

  /** Precision of the top `r` scored items against `truth`. Items tied
    * with the one at the cut count at their expected share, because the
    * order within equal scores is arbitrary: this is the precision a
    * random tie-break gives on average. */
  def precisionAtR[K](scored: Seq[(K, Double)], truth: K => Boolean, r: Int): Ratio =
    if (r == 0 || scored.isEmpty) Ratio(0.0, r.toDouble)
    else {
      val sorted = scored.sortBy(-_._2)
      val n = math.min(r, sorted.size)
      val cut = sorted(n - 1)._2
      val above = sorted.takeWhile(_._2 > cut)
      val tied = sorted.filter(_._2 == cut)
      Ratio(above.count(x => truth(x._1)) +
        (n - above.size) * tied.count(x => truth(x._1)).toDouble / tied.size, r.toDouble)
    }

  /** A ratio that always travels with its base. */
  case class Ratio(num: Double, den: Double) {
    @JsonProperty("value") def value: Double = if (den == 0.0) Double.NaN else num / den
    def +(o: Ratio): Ratio = Ratio(num + o.num, den + o.den)
  }
  object Ratio { val Zero: Ratio = Ratio(0.0, 0.0) }
}

/** JSON for the result records, through the Jackson that ships with
  * Spark. Map keys are written in sorted order. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
