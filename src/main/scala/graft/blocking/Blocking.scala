package graft.blocking

import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking layer — the operator that makes entity resolution sub-O(n²)
  * (J4/J5, ref `02_Build Training Pairs.py:93-106,142-155`,
  * `03_Train & Deploy Model.py:506-538`).
  *
  * `approxSimilarityJoin` internally posexplodes the `numHashTables` bucket
  * ids per row and equi-joins on (hash-table index, bucket id) — a plain
  * shuffled hash join, never a cartesian product. `fitLsh` takes an explicit
  * seed (the reference relies on default seeding; semantics unchanged).
  *
  * Scale notes: keep `numHashTables`/`bucketLength` configurable — on skewed
  * data a hot bucket turns the equi-join into a skew join; AQE skew-join
  * handles moderate cases, shorter `bucketLength` splits hot buckets.
  * `crossJoinExact` is the correctness oracle only (`02:52` discusses and
  * rejects it at scale); guard its use to small inputs.
  *
  * Note: the reference's description-candidate join accidentally joins the
  * abt side to itself (`02:144-145`) where its prose says abt↔buy. This
  * engine implements the documented A-vs-B semantics; `BlockingSpec` pins it.
  */
object Blocking {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Fit a bucketed random-projection LSH model (Euclidean). */
  def fitLsh(df: DataFrame, inputCol: String, bucketLength: Double = 1.0,
             numHashTables: Int = 10, seed: Long = 42L,
             outputCol: String = "hashes"): BucketedRandomProjectionLSHModel =
    new BucketedRandomProjectionLSH()
      .setInputCol(inputCol).setOutputCol(outputCol)
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed)
      .fit(df)

  /** J4 — approximate similarity join, flattened to the reference's
    * candidate-pair projection (`02:100-106`): idA/idB plus the exact
    * distance of each surviving pair. */
  def similarityJoin(model: BucketedRandomProjectionLSHModel,
                     a: DataFrame, b: DataFrame, threshold: Double,
                     distCol: String = "distance"): DataFrame =
    model.approxSimilarityJoin(a, b, threshold, distCol)
      .selectExpr("datasetA.id as idA", "datasetB.id as idB", distCol)

  /** A transformed row's bucket ids, one 8-byte id per hash table. */
  private def bucketIds(model: BucketedRandomProjectionLSHModel): Column =
    transform(col(model.getOutputCol),
      hv => element_at(org.apache.spark.ml.functions.vector_to_array(hv), 1).cast("long"))

  /** Explode a transformed side to one row per (key, hash-table index,
    * bucket id) — keys and 8-byte bucket ids ONLY, no vectors. */
  private def buckets(model: BucketedRandomProjectionLSHModel, df: DataFrame,
                      keyAs: String): DataFrame =
    model.transform(df).select(col("key").as(keyAs), posexplode(bucketIds(model)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")

  /** The candidate-key join behind [[dedupedSimilarityJoin]], exposed for
    * the skew spec: bucket equi-join of the two exploded sides, SALTED so a
    * hot bucket's nA×nB pair space spreads over `salts` reducers instead of
    * serializing through one. Side A takes a deterministic key-hash salt;
    * side B's (tiny, ids-only) bucket rows replicate `salts` times — output
    * identical to the unsalted join, each pair matched exactly once. */
  private[graft] def saltedBucketJoin(model: BucketedRandomProjectionLSHModel,
                                      ra: DataFrame, rb: DataFrame,
                                      salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1 (1 = unsalted); got $salts")
    val ba = buckets(model, ra, "keyA")
      .withColumn("__salt", pmod(xxhash64(col("keyA")), lit(salts.toLong)))
    val bb = buckets(model, rb, "keyB")
      .withColumn("__salt", explode(sequence(lit(0L), lit(salts.toLong - 1))))
    ba.join(bb, Seq("tbl", "bucket", "__salt"))
      .select("keyA", "keyB")
  }

  /** Top-`topN` LSH buckets by occupancy across both sides — the hot-bucket
    * diagnostic ([[graft.ops.Skew.keySkew]] over the bucket key). A bucket
    * holding share s of n keys implies ~(s·n)² candidate pairs from that
    * bucket alone; log this before tuning `bucketLength`/`salts`. */
  def bucketSkew(model: BucketedRandomProjectionLSHModel, a: DataFrame,
                 b: DataFrame, topN: Int = 10): DataFrame =
    graft.ops.Skew.keySkew(
      buckets(model, a, "k").unionByName(buckets(model, b, "k"))
        .select(concat_ws(":", col("tbl"), col("bucket")).as("tbl_bucket")),
      "tbl_bucket", topN)

  /** Scale-critical variant: LSH-join *distinct blocking keys* (e.g. the
    * normalized name string — identical key ⇒ identical feature vector),
    * then expand back to id pairs only for key pairs that already passed
    * the exact distance filter.
    *
    * Why: duplicate keys must never flow through an LSH join. With g ids
    * sharing a key, the naive join carries g×g id pairs per colliding key
    * pair through the explode/dedup shuffle — quadratic in the duplication
    * factor (observed: ~10⁷-row shuffles on a 2k-row catalog sample at
    * sf0.1). Joining representatives is lossless (same vectors, same
    * distances), keeps the LSH shuffle linear in *distinct* keys, and the
    * id expansion afterwards is exactly the size of the true candidate
    * set — irreducible output, not intermediate state.
    *
    * The bucket join itself carries (key, table-index, bucket) rows only —
    * vectors re-attach AFTER the candidate distinct — and is salted
    * (`salts`-way, deterministic key hash) so one hot bucket cannot
    * serialize the join through a single reducer; `logBucketSkew` logs the
    * top bucket occupancies ([[bucketSkew]]) for tuning. Semantics match
    * MLlib's `approxSimilarityJoin` (same fitted hashes, same exact
    * Euclidean post-filter `< threshold`); the plan is strictly narrower.
    */
  def dedupedSimilarityJoin(a: DataFrame, b: DataFrame, keyCol: String,
                            featureCol: String, threshold: Double,
                            bucketLength: Double = 1.0, numHashTables: Int = 10,
                            seed: Long = 42L, salts: Int = 8,
                            logBucketSkew: Boolean = false): DataFrame = graft.Sweep.pinned { pin =>
    // one representative row per distinct key, carrying BOTH the (shared)
    // feature vector and the key's id list — so the post-filter expansion
    // back to id pairs is an in-row explode, not two more shuffled joins
    def reps(df: DataFrame) =
      df.groupBy(col(keyCol).as("key"))
        .agg(first(col(featureCol)).as(featureCol),
             collect_list(col("id")).as("__ids"))
    val ra = pin(reps(a).cache())
    val rb = pin(reps(b).cache())
    val model = fitLsh(ra, featureCol, bucketLength, numHashTables, seed)
    if (logBucketSkew)
      bucketSkew(model, ra, rb).collect().foreach { r =>
        log.info(s"[blocking] hot bucket ${r.get(0)}: ${r.get(1)} keys (share ${r.get(2)})")
      }
    val keyPairs = saltedBucketJoin(model, ra, rb, salts).distinct()
    keyPairs
      .join(ra.select(col("key").as("keyA"), col(featureCol).as("__fA"),
        col("__ids").as("__idsA")), Seq("keyA"))
      .join(rb.select(col("key").as("keyB"), col(featureCol).as("__fB"),
        col("__ids").as("__idsB")), Seq("keyB"))
      .withColumn("distance", sqrt(graft.functions.SqDist.sq_dist(col("__fA"), col("__fB"))))
      .where(col("distance") < threshold)
      // expansion to id pairs: explode the id lists the reps carried in —
      // output is exactly the true candidate set (g_a × g_b rows per
      // surviving key pair), with no post-filter joins back to the inputs
      .select(explode(col("__idsA")).as("idA"), col("__idsB"), col("distance"))
      .select(col("idA"), explode(col("__idsB")).as("idB"), col("distance"))
      // materialize (lineage-truncating local checkpoint) before the scope
      // drops the representative caches
      .localCheckpoint()
  }

  /** The incremental counterpart of [[dedupedSimilarityJoin]]: probe a
    * small `delta` side against a large `stored` side in ONE pass over
    * `stored`. Same pair set as `dedupedSimilarityJoin(delta, stored, …)`
    * and MLlib's `approxSimilarityJoin` over the non-NULL-key rows (same
    * seed-determined hashes, same exact `sqrt(sq_dist) < threshold`
    * post-filter), but no grouping, no shuffle and no `distinct`:
    *
    *  - the model is fitted on `delta`; a feature column carrying its
    *    vector size in the schema metadata (every fitted feature pipeline's
    *    output does) makes the fit job-free;
    *  - both sides posexplode to (table index, bucket); the delta side is
    *    broadcast, so the equi-join is a BroadcastHashJoin that streams
    *    `stored` once;
    *  - a pair is kept only at its FIRST colliding table (no earlier index
    *    has equal buckets), so each pair is emitted once;
    *  - each side's row travels as a struct, `A` and `B`, of its `id`,
    *    `featureCol` and `carryCols`, so a caller needing more per-pair
    *    columns (the matcher's distances) reads them without a join back.
    *
    * Output: idA, idB, distance, A, B — one row per (delta row, stored
    * row) pair, so ids must be unique per side. Rows with a NULL `keyCol`
    * or `featureCol` are dropped, as the key join of
    * [[dedupedSimilarityJoin]] drops them. */
  def probeSimilarityJoin(delta: DataFrame, stored: DataFrame, keyCol: String,
                          featureCol: String, threshold: Double,
                          bucketLength: Double = 1.0, numHashTables: Int = 10,
                          seed: Long = 42L, carryCols: Seq[String] = Nil): DataFrame = {
    val rowCols = ("id" +: featureCol +: carryCols).distinct
    def usable(df: DataFrame) = df.where(col(keyCol).isNotNull && col(featureCol).isNotNull)
    // the fit reads the vector size from the column metadata and runs no
    // job; vectors built by hand carry none, so their size comes off one
    // row, and a delta with no usable row pairs with nothing: both inputs
    // are emptied, so no row is ever hashed with the placeholder size
    val dim = AttributeGroup.fromStructField(delta.schema(featureCol)).size match {
      case n if n >= 0 => Some(n)
      case _ => usable(delta).select(featureCol).head(1).headOption
        .map(_.getAs[org.apache.spark.ml.linalg.Vector](0).size)
    }
    val model = fitLsh(usable(delta).select(col(featureCol).as(featureCol,
      new AttributeGroup(featureCol, dim.getOrElse(1)).toMetadata())), featureCol,
      bucketLength, numHashTables, seed)
    def side(df: DataFrame, s: String): DataFrame =
      model.transform(usable(df))
        .select(struct(rowCols.map(col): _*).as(s), bucketIds(model).as(s"__h$s"))
        .select(col("*"), posexplode(col(s"__h$s")).as(Seq("tbl", "bucket")))
    def input(df: DataFrame) = if (dim.isDefined) df else df.limit(0)
    side(input(stored), "B").join(broadcast(side(input(delta), "A")), Seq("tbl", "bucket"))
      // 1-based position of the first table whose buckets agree
      .where(array_position(zip_with(col("__hA"), col("__hB"), _ === _), true) ===
        col("tbl") + 1)
      .withColumn("distance", sqrt(graft.functions.SqDist.sq_dist(
        col(s"A.$featureCol"), col(s"B.$featureCol"))))
      .where(col("distance") < threshold)
      .select(col("A.id").as("idA"), col("B.id").as("idB"), col("distance"),
        col("A"), col("B"))
  }

  /** J5 — exact cross-join similarity oracle (small inputs only). The
    * distance kernel is the codegen [[graft.functions.SqDist]] expression
    * (same as the hot scoring path) — the UDF form would deserialize two
    * VectorUDT structs per candidate pair of the n×m loop. */
  def crossJoinExact(a: DataFrame, b: DataFrame, featureCol: String,
                     threshold: Double): DataFrame = {
    val aa = a.select(col("id").as("idA"), col(featureCol).as("fA"))
    val bb = b.select(col("id").as("idB"), col(featureCol).as("fB"))
    aa.crossJoin(bb)
      .withColumn("distance", sqrt(graft.functions.SqDist.sq_dist(col("fA"), col("fB"))))
      .where(col("distance") < threshold)
      .select("idA", "idB", "distance")
  }
}
