package graft.matching

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X1 + J3 — pairwise distance features (ref `03_Train & Deploy
  * Model.py:71-107`): attach each side's feature vectors to the candidate
  * pairs via aliased equi-joins, then reduce each pair to per-attribute
  * squared Euclidean distances.
  *
  * The kernel is the reference's own (`Vectors.sqdist`, `03:87-96`) — native
  * Scala here, no py4j registration hop. Day-1 form is a Scala UDF; the
  * codegen `Expression` upgrade is tracked for the hot path (SURVEY §7.4).
  *
  * Scale notes: the feature side of each J3 join is the entity table —
  * orders of magnitude smaller than the pair table — so both joins take an
  * explicit `broadcast()` hint rather than trusting stats (VERDICT r1).
  */
object Distances {

  /** Day-1 UDF form (the reference's own kernel shape, kept for SQL-name
    * parity and as the cross-check in tests). */
  val sqdist = udf { (x: Vector, y: Vector) => Vectors.sqdist(x, y) }

  /** Codegen Catalyst expression form — used in the hot path. */
  def sqdistNative(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.SqDist.sq_dist(a, b)

  /** Register for SQL use, mirroring `spark.udf.register` at `03:96`. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("squared_dist", (x: Vector, y: Vector) => Vectors.sqdist(x, y))

  /** J3 — attach per-side feature vectors to each (idA, idB) pair. */
  def attachFeatures(pairs: DataFrame, featA: DataFrame, featB: DataFrame): DataFrame =
    pairs
      .join(broadcast(featA.as("A")), col("idA") === col("A.id"))
      .join(broadcast(featB.as("B")), col("idB") === col("B.id"))

  /** X1 — squared distances per attribute (`03:101-107`), via the native
    * codegen expression (UDF form available as [[sqdist]]).
    *
    * The broadcast sides project to (id, three feature vectors) FIRST
    * (optimization round 14, guide §2.3 "project before the exchange"):
    * the feature frames also carry the raw name/description strings as
    * blocking keys, which this kernel never reads — broadcasting them
    * built and shipped a visibly fatter hash relation per training/scoring
    * call for zero use. */
  def pairDistances(pairs: DataFrame, featA: DataFrame, featB: DataFrame): DataFrame = {
    val vecCols = "id" +: VecCols
    sqdists(attachFeatures(pairs, featA.select(vecCols.map(col): _*),
      featB.select(vecCols.map(col): _*)))
  }

  /** The three feature vectors a pair's distances read, per side. */
  val VecCols: Seq[String] = Seq("name_features", "descript_features", "price_features")

  /** X1 over pairs that already carry both sides' vectors as `A.<col>` and
    * `B.<col>` — join aliases ([[attachFeatures]]) or struct columns
    * ([[graft.blocking.Blocking.probeSimilarityJoin]]'s `A`/`B`). */
  def sqdists(attached: DataFrame): DataFrame =
    attached.select(col("idA") +: col("idB") +: VecCols.map(c =>
      sqdistNative(col(s"A.$c"), col(s"B.$c")).as(c.stripSuffix("_features") + "_sqdist")): _*)
}
