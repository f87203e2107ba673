package erbench

import java.util.{Locale, SplittableRandom}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The engine only ever sees the frames built
  * from these values; the truth behind them stays with the benchmark. */
object Gen {

  /** TPC-H `part` name words (P_NAME draws five distinct ones; a name
    * here is five of them plus a model code). */
  val NameWords: Vector[String] = Vector(
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "burnished",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cornsilk",
    "cream", "cyan", "dark", "deep", "dim", "dodger", "drab", "firebrick",
    "floral", "forest", "frosted", "gainsboro", "ghost", "goldenrod",
    "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki", "lace",
    "lavender", "lawn", "lemon", "light", "lime", "linen", "magenta",
    "maroon", "medium", "metallic", "midnight", "mint", "misty", "moccasin",
    "navajo", "navy", "olive", "orange", "orchid", "pale", "papaya",
    "peach", "peru", "pink", "plum", "powder", "puff", "purple", "red",
    "rose", "rosy", "royal", "saddle", "salmon", "sandy", "seashell",
    "sienna", "sky", "slate", "smoke", "snow", "spring", "steel", "tan",
    "thistle", "tomato", "turquoise", "violet", "wheat", "white", "yellow")

  /** TPC-H `part` type syllables (P_TYPE is one of each). */
  val TypeS1 = Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  val TypeS2 = Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  val TypeS3 = Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  final case class Product(id: Long, name: String, description: String,
                           price: String)

  /** Two catalogs and the generator's truth.
    *
    *  - `a`: side A, TPC-H `part`-shaped rows.
    *  - `b`: perturbed copies of a subset of side A plus distractors.
    *  - `truth`: every (idA, idB) pair that is the same product.
    *  - `golden`: the labeled subset of `truth` handed to the engine.
    *  - `spare`: the side-A counterparts of the distractors, held back
    *    from side A (they arrive later as new rows), with their truth.
    */
  final case class Catalogs(a: Vector[Product], b: Vector[Product],
                            truth: Vector[(Long, Long)],
                            golden: Vector[(Long, Long)],
                            spare: Vector[Product],
                            spareTruth: Vector[(Long, Long)],
                            props: Map[String, Any])

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  private def shuffled[T](r: SplittableRandom, xs: IndexedSeq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  def priceString(p: Double): String = String.format(Locale.ROOT, "$%.2f", Double.box(p))

  /** A model code such as "kt-417x": the token product names carry
    * besides their descriptive words. */
  private def modelCode(r: SplittableRandom): String =
    s"${pick(r, Letters)}${pick(r, Letters)}-${100 + r.nextInt(900)}${pick(r, Letters)}"

  private def product(r: SplittableRandom, id: Long): Product = {
    val words = shuffled(r, NameWords).take(5) :+ modelCode(r)
    Product(id, words.mkString(" "),
      s"${pick(r, TypeS1)} ${pick(r, TypeS2)} ${pick(r, TypeS3)}",
      priceString(900.0 + r.nextInt(120000) / 100.0))
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** One typo in one word: substitute, delete, or transpose a letter. */
  private def typo(r: SplittableRandom, w: String): String =
    if (w.length < 3) w
    else {
      val i = 1 + r.nextInt(w.length - 2)
      r.nextInt(3) match {
        case 0 => w.updated(i, pick(r, Letters))
        case 1 => w.substring(0, i) + w.substring(i + 1)
        case _ => w.substring(0, i) + w(i + 1) + w(i) + w.substring(i + 2)
      }
    }

  val Perturbations: Seq[String] =
    Seq("typo", "token_drop", "brand_prefix", "upper_case", "price_jitter", "null_description")

  /** Side-B rendering of a side-A product, recording which perturbations
    * fired. */
  private def perturb(r: SplittableRandom, p: Product, id: Long,
                      mix: scala.collection.mutable.Map[String, Int]): Product = {
    def fire(k: String, prob: Double): Boolean = {
      val f = r.nextDouble() < prob
      if (f) mix(k) += 1
      f
    }
    var words = p.name.split(" ").toVector
    if (fire("typo", 0.4)) {
      val i = r.nextInt(words.size)
      words = words.updated(i, typo(r, words(i)))
    }
    if (fire("token_drop", 0.3)) {
      val i = r.nextInt(words.size)
      words = words.patch(i, Nil, 1)
    }
    var name = words.mkString(" ")
    if (fire("brand_prefix", 0.5)) name = s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)} $name"
    if (fire("upper_case", 0.5)) name = name.toUpperCase(Locale.ROOT)
    val price =
      if (fire("price_jitter", 0.5))
        priceString(p.price.drop(1).toDouble * (1.0 + (r.nextDouble() - 0.5) * 0.06))
      else p.price
    val desc = if (fire("null_description", 1.0 / 7)) null else p.description
    Product(id, name, desc, price)
  }

  /** Catalogs of `nA` side-A products; `dupRate` of them reappear
    * perturbed on side B, and `distractorRate × |B|` side-B rows are
    * products side A does not (yet) hold. Half the truth is labeled. */
  def catalogs(seed: Long, nA: Int, dupRate: Double, distractorRate: Double): Catalogs = {
    val r = new SplittableRandom(seed)
    val nDup = math.round(nA * dupRate).toInt
    val nDistract = math.round(nDup * distractorRate / (1.0 - distractorRate)).toInt
    val nB = nDup + nDistract
    // ids are permutations of disjoint ranges, so an id says nothing about
    // its counterpart
    val idsA = shuffled(r, (0 until nA + nDistract).map(i => 100000L + i))
    val idsB = shuffled(r, (0 until nB).map(i => 500000L + i))
    val all = idsA.map(id => product(r, id))
    val (a, spare) = all.splitAt(nA)
    val dupIdx = shuffled(r, a.indices).take(nDup)
    val mix = scala.collection.mutable.Map(Perturbations.map(_ -> 0): _*)
    val dups = dupIdx.zipWithIndex.map { case (ai, j) => perturb(r, a(ai), idsB(j), mix) }
    val distract = spare.zipWithIndex.map { case (p, j) => perturb(r, p, idsB(nDup + j), mix) }
    val truth = dupIdx.zipWithIndex.map { case (ai, j) => (a(ai).id, idsB(j)) }
    val spareTruth = spare.zipWithIndex.map { case (p, j) => (p.id, idsB(nDup + j)) }
    val b = shuffled(r, dups ++ distract)
    val golden = shuffled(r, truth).take(truth.size / 2).sorted
    val distinctNames = (a ++ b).map(_.name).distinct.size
    Catalogs(a, b, truth.sorted, golden, spare, spareTruth.sorted, Map(
      "n_a" -> nA, "n_b" -> nB, "n_truth" -> truth.size, "n_golden" -> golden.size,
      "n_spare" -> spare.size,
      "duplicate_rate" -> Stats.Ratio(nDup, nA),
      "distractor_rate" -> Stats.Ratio(nDistract, nB),
      "distinct_names" -> distinctNames,
      "perturbation_mix" -> Perturbations.map(k => k -> Stats.Ratio(mix(k), nB)).toMap))
  }

  /** A text-and-vector corpus for the search stores. */
  final case class Corpus(texts: Map[Long, String], vecs: Map[Long, Array[Double]],
                          termRank: Map[String, Int], clusters: Vector[Array[Double]],
                          cluster: Map[Long, Int], props: Map[String, Any])

  /** Deterministic pseudo-word vocabulary: consonant-vowel syllables. */
  def vocabulary(n: Int): Vector[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val r = new SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map(_ => s"${pick(r, cons)}${pick(r, vows)}").mkString
    }
    seen.toVector
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse-CDF search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def share(rank: Int): Double = cdf(rank) - (if (rank == 0) 0.0 else cdf(rank - 1))
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val Dim = 64

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian is
    // not available on SplittableRandom)
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  def noisy(r: SplittableRandom, center: Array[Double], sigma: Double): Array[Double] =
    unit(center.map(_ + sigma * gaussian(r)))

  final class TextGen(vocab: Vector[String], zipf: Zipf) {
    def doc(r: SplittableRandom): String =
      (0 until 20 + r.nextInt(41)).map(_ => vocab(zipf.sample(r))).mkString(" ")
  }

  val VocabSize = 4000
  val ZipfS = 1.1
  val Sigma = 0.08

  /** `nDocs` documents with Zipf-skewed terms and 64-d unit vectors drawn
    * around `nClusters` centers whose sizes are themselves skewed. */
  def corpus(seed: Long, nDocs: Int, nClusters: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(VocabSize)
    val zipf = new Zipf(VocabSize, ZipfS)
    val text = new TextGen(vocab, zipf)
    val centers = Vector.fill(nClusters)(unit(Array.fill(Dim)(gaussian(r))))
    val sizeZipf = new Zipf(nClusters, 0.8)
    val ids = (0 until nDocs).map(_.toLong)
    val texts = ids.map(i => i -> text.doc(r)).toMap
    val cl = ids.map(i => i -> sizeZipf.sample(r)).toMap
    val vecs = ids.map(i => i -> noisy(r, centers(cl(i)), Sigma)).toMap
    val sizes = cl.values.groupBy(identity).view.mapValues(_.size).toMap
    Corpus(texts, vecs, vocab.zipWithIndex.toMap, centers, cl, Map(
      "n_docs" -> nDocs, "vocab" -> VocabSize, "zipf_s" -> ZipfS,
      "top_term_share" -> Stats.Ratio(zipf.share(0), 1.0),
      "top10_term_share" -> Stats.Ratio((0 until 10).map(zipf.share).sum, 1.0),
      "dim" -> Dim, "clusters" -> nClusters, "cluster_sigma" -> Sigma,
      "cluster_sizes" -> (0 until nClusters).map(c => sizes.getOrElse(c, 0))))
  }
}

/** DataFrames the engine receives, built from generated values. */
object Frames {
  def catalogs(spark: SparkSession, a: Seq[Gen.Product], b: Seq[Gen.Product]): DataFrame = {
    import spark.implicits._
    (a.map(p => ("abt", p.id, p.name, p.description, p.price)) ++
      b.map(p => ("buy", p.id, p.name, p.description, p.price)))
      .toDF("table", "id", "name", "description", "price").coalesce(1)
  }

  def products(spark: SparkSession, ps: Seq[Gen.Product]): DataFrame = {
    import spark.implicits._
    ps.map(p => ("abt", p.id, p.name, p.description, p.price))
      .toDF("table", "id", "name", "description", "price")
  }

  def pairs(spark: SparkSession, ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("idA", "idB").coalesce(1)
  }
}

/** The generator self-check: the same seed must give identical inputs and
  * a different seed different ones. A violation fails the run. */
object GenCheck {
  def deterministic[T](seed: Long, gen: Long => T, same: (T, T) => Boolean): T = {
    val x = gen(seed)
    if (!same(x, gen(seed)))
      throw new IllegalStateException(s"generator is not deterministic for seed $seed")
    if (same(x, gen(seed + 1)))
      throw new IllegalStateException(s"seeds $seed and ${seed + 1} generate identical inputs")
    x
  }

  def catalogs(seed: Long, nA: Int, dup: Double, distract: Double): Gen.Catalogs =
    deterministic[Gen.Catalogs](seed, s => Gen.catalogs(s, nA, dup, distract),
      (x, y) => x.a == y.a && x.b == y.b && x.truth == y.truth && x.golden == y.golden &&
        x.spare == y.spare)

  def corpus(seed: Long, nDocs: Int, nClusters: Int): Gen.Corpus =
    deterministic[Gen.Corpus](seed, s => Gen.corpus(s, nDocs, nClusters),
      (x, y) => x.texts == y.texts && x.cluster == y.cluster &&
        x.vecs.keySet == y.vecs.keySet &&
        x.vecs.forall { case (k, v) => java.util.Arrays.equals(v, y.vecs(k)) })
}
