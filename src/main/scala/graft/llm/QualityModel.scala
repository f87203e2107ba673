package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array

/** Model-based quality filtering — the CCNet / GPT-3-style "looks like
  * reference text" gate. No human labels: the corpus's own documents are
  * weak positives and deterministically degraded copies are weak
  * negatives (the trick CCNet plays with Wikipedia-vs-CommonCrawl,
  * collapsed to one corpus). A logistic model fit on the engine's
  * existing quality signals then scores every document; thresholding
  * `quality_prob` is the reusable model-based gate next to the
  * heuristic gates in [[TextAnalysis]].
  *
  * Scale shape: feature extraction is ONE codegen'd projection chain
  * (no joins between signal frames — the signals recompute inline from
  * the same scan); training data is corpus ∪ degraded-corpus (2×, still
  * a projection); the only iterative cost is L-BFGS over a 10-float
  * vector per row. Scoring is a broadcast of the fitted coefficients —
  * a pure map at 100 TB.
  */
object QualityModel {

  /** Deterministic degradations manufacturing the negative class, keyed
    * on doc_id % 3 so the mix is stable and engine-reproducible:
    * 0 → first token repeated (degenerate generation loop),
    * 1 → spaces stripped into one mega-token (encoding damage),
    * 2 → truncation to two tokens (near-empty fragment). */
  private[graft] def garble(t: org.apache.spark.sql.Column,
                          id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = TextAnalysis.tokens(t)
    // try_element_at, not element_at: ANSI mode THROWS on index 1 of an
    // empty array, and an empty/whitespace-only document has zero tokens —
    // the coalesce alone cannot catch an exception
    val firstTok = coalesce(try_element_at(toks, lit(1)), lit("x"))
    when(pmod(id, lit(3)) === 0,
        array_join(array_repeat(firstTok, greatest(size(toks), lit(8))), " "))
      .when(pmod(id, lit(3)) === 1, array_join(toks, ""))
      .otherwise(array_join(slice(toks, 1, 2), " "))
  }

  private val featCols = Array("n_chars", "alpha_ratio", "punct_ratio",
    "stopword_ratio", "mean_word_len", "n_tokens", "distinct_ratio",
    "top_token_frac", "top_bigram_frac", "char_entropy")

  /** The ten quality signals as ONE projection chain (whole-stage codegen
    * fuses the two selects — no shuffle, no joins). Mirrors
    * [[TextAnalysis.qualityScore]] / [[TextAnalysis.repetitionStats]] /
    * [[TextAnalysis.charEntropy]] without their round() (rounding exists
    * for oracle compare; features don't want it). `keep` columns pass
    * through untouched. */
  private[graft] def features(df: DataFrame, textCol: String,
                            keep: Seq[String]): DataFrame = {
    val t = col(textCol)
    val toks = TextAnalysis.tokens(t)
    val n = length(t).cast("double")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?'\"()-]", "")).cast("double")
    val stops = size(filter(toks, x => x.isin(LangId.markers("en"): _*)))
    val base = df.select(keep.map(col) ++ Seq(col("doc_id"),
      n.as("n_chars"),
      (alpha / greatest(n, lit(1.0))).as("alpha_ratio"),
      (punct / greatest(n, lit(1.0))).as("punct_ratio"),
      (stops.cast("double") / greatest(size(toks), lit(1)).cast("double"))
        .as("stopword_ratio"),
      (alpha / greatest(size(toks), lit(1)).cast("double")).as("mean_word_len"),
      TextAnalysis.entropyUdf(t).as("char_entropy"),
      TextAnalysis.repUdf(toks).as("st")): _*)
    val nTok = greatest(col("st._1"), lit(1)).cast("double")
    base.select(keep.map(col) ++ Seq(col("doc_id"), col("n_chars"),
      col("alpha_ratio"), col("punct_ratio"), col("stopword_ratio"),
      col("mean_word_len"), col("char_entropy"),
      col("st._1").cast("double").as("n_tokens"),
      (col("st._2").cast("double") / nTok).as("distinct_ratio"),
      (col("st._3").cast("double") / nTok).as("top_token_frac"),
      (col("st._4").cast("double")
        / greatest(col("st._1") - 1, lit(1)).cast("double"))
        .as("top_bigram_frac")): _*)
  }

  private def assembler =
    new VectorAssembler().setInputCols(featCols).setOutputCol("fv")

  /** A fitted quality model: the logistic coefficients plus the holdout
    * AUC (measured on a deterministic 20% content-hash holdout of the
    * weak-label set) and the class sizes (always equal here — negatives
    * are manufactured 1:1 from the positives — but carried separately so
    * a future asymmetric negative source can't silently misreport). */
  final case class Fitted(
      model: org.apache.spark.ml.classification.LogisticRegressionModel,
      auc: Double, nPos: Long, nNeg: Long)

  def fit(df: DataFrame, textCol: String = "text"): Fitted = {
    val base = df.where(col(textCol).isNotNull)
    // a label-source tag (not an id remap) keeps a doc and its degraded
    // copy on independent sides of the hash split: the split hashes
    // (source, doc_id), so the two rows draw independent split fates, and
    // genuine ids of ANY sign can never collide with a synthetic id (the
    // old -doc_id - 1 remap collided with real negative doc_ids)
    val pos = base.select(col("doc_id"), lit("p").as("__qm_src"),
      col(textCol).as("__qm_text"), lit(1.0).as("label"))
    val neg = base.select(col("doc_id"), lit("n").as("__qm_src"),
      garble(col(textCol), col("doc_id")).as("__qm_text"), lit(0.0).as("label"))
    val train = features(pos.unionByName(neg), "__qm_text",
        keep = Seq("label", "__qm_src"))
      .na.fill(0.0, featCols)
    // deterministic 80/20 split: first md5 byte of (source, id) —
    // reproducible across runs/cluster sizes, same convention as
    // Matcher.withHashSplit
    val holdout = conv(substring(md5(concat(lit("qm:"), col("__qm_src"),
      lit(":"), col("doc_id").cast("string"))), 1, 2), 16, 10).cast("int") >= 204
    val fitDf = assembler.transform(train.where(!holdout))
    val model = graft.Sweep.pinned(pin => new LogisticRegression().setFeaturesCol("fv")
      .setLabelCol("label").setMaxIter(50).setRegParam(0.01).fit(pin(fitDf.cache())))
    val auc = new BinaryClassificationEvaluator().setLabelCol("label")
      .setRawPredictionCol("rawPrediction").setMetricName("areaUnderROC")
      .evaluate(model.transform(assembler.transform(train.where(holdout))))
    // one count serves both classes: negatives are one garbled copy per
    // positive by construction (the 1:1 invariant the case class documents)
    val n = base.count()
    Fitted(model, auc, n, n)
  }

  /** Score a frame with a fitted model → (doc_id, quality_prob). The whole
    * chain — features, assemble, coefficient dot-product — is a STATELESS
    * per-row projection, so it runs unmodified on a batch OR a streaming
    * frame (the train-offline / score-online shape). */
  def score(fitted: org.apache.spark.ml.classification.LogisticRegressionModel,
            df: DataFrame, textCol: String = "text"): DataFrame =
    fitted.transform(assembler.transform(
        features(df, textCol, keep = Seq.empty).na.fill(0.0, featCols)))
      .select(col("doc_id"),
        element_at(vector_to_array(col("probability")), 2).as("quality_prob"))

  /** Fit + score result: `scores` = (doc_id, quality_prob) for EVERY input
    * row. */
  final case class Result(scores: DataFrame, auc: Double, nPos: Long, nNeg: Long)

  def fitScore(df: DataFrame, textCol: String = "text"): Result = {
    val f = fit(df, textCol)
    Result(score(f.model, df, textCol), f.auc, f.nPos, f.nNeg)
  }
}
