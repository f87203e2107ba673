package graft.features

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.obs

/** The reference's three feature pipelines (F1-F13, `01_Feature
  * Engineering.py:185-473`), parameterized per column.
  *
  * - name:     tokenize → stop-words → char-trigrams → binary HashingTF(36³)
  *             → IDF → L2 normalize                      (`01:185-301`)
  * - descript (TF-IDF variant): tokenize → stop-words → word bigrams →
  *             HashingTF(2¹⁸) → IDF → L2 normalize       (`01:324-388`)
  * - descript (Word2Vec variant, the one the reference persists, `01:444`):
  *             tokenize → stop-words → Word2Vec(50) → L2 normalize
  * - price:    VectorAssembler(handleInvalid=keep)       (`01:467-473`)
  *
  * All estimators take explicit seeds (the reference relies on defaults —
  * semantics unchanged, determinism gained). `maxIter` for Word2Vec is
  * configurable: the reference's 100 iterations is a quality knob, not a
  * semantic one, and is the single most expensive fit in its notebook 01.
  *
  * Scale notes: every stage is a narrow map except the IDF/Word2Vec fits
  * (tree-aggregates). Callers should cache the union of both catalogs before
  * `fit` — `Pipeline.fit` re-executes the upstream plan per estimator stage
  * (SURVEY §7.4).
  */
object TextFeatures {

  val TokenPattern = "[^\\w\\d]"

  def tokenizer(input: String, output: String): RegexTokenizer =
    new RegexTokenizer().setInputCol(input).setOutputCol(output)
      .setPattern(TokenPattern).setMinTokenLength(1).setToLowercase(true)

  def stopWords(input: String, output: String): StopWordsRemover =
    new StopWordsRemover().setInputCol(input).setOutputCol(output)

  /** F1+F2+F3/F4/F5+F7+F9+F10 — the name pipeline (`01:185-301`). */
  def namePipeline(input: String = "name", output: String = "name_features",
                   numFeatures: Int = 36 * 36 * 36, n: Int = 3): Pipeline = {
    val tok = tokenizer(input, s"${input}_tokens")
    val stop = stopWords(s"${input}_tokens", s"${input}_filtered")
    val tri = new CharNGrams().setInputCol(s"${input}_filtered")
      .setOutputCol(s"${input}_ngs").setN(n)
    val tf = new HashingTF().setInputCol(s"${input}_ngs")
      .setOutputCol(s"${input}_tf").setNumFeatures(numFeatures).setBinary(true)
    val idf = new IDF().setInputCol(s"${input}_tf").setOutputCol(s"${input}_tfidf")
    val norm = new Normalizer().setInputCol(s"${input}_tfidf")
      .setOutputCol(output).setP(2.0)
    new Pipeline().setStages(Array(tok, stop, tri, tf, idf, norm))
  }

  /** F1+F2+F6+F8+F9+F10 — description TF-IDF pipeline (`01:324-388`). */
  def descriptTfidfPipeline(input: String = "description",
                            output: String = "descript_features",
                            numFeatures: Int = 1 << 18, n: Int = 2): Pipeline = {
    val tok = tokenizer(input, s"${input}_tokens")
    val stop = stopWords(s"${input}_tokens", s"${input}_filtered")
    val ng = new NGram().setN(n).setInputCol(s"${input}_filtered")
      .setOutputCol(s"${input}_ngs")
    val tf = new HashingTF().setInputCol(s"${input}_ngs")
      .setOutputCol(s"${input}_tf").setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol(s"${input}_tf").setOutputCol(s"${input}_tfidf")
    val norm = new Normalizer().setInputCol(s"${input}_tfidf")
      .setOutputCol(output).setP(2.0)
    new Pipeline().setStages(Array(tok, stop, ng, tf, idf, norm))
  }

  /** F1+F2+F11+F10 — description Word2Vec pipeline, the variant the
    * reference persists (`01:427-444`). */
  def descriptW2VPipeline(input: String = "description",
                          output: String = "descript_features",
                          vectorSize: Int = 50, minCount: Int = 3,
                          maxIter: Int = 8, seed: Long = 42L): Pipeline = {
    val tok = tokenizer(input, s"${input}_tokens")
    val stop = stopWords(s"${input}_tokens", s"${input}_filtered")
    val w2v = new Word2Vec().setInputCol(s"${input}_filtered")
      .setOutputCol(s"${input}_w2v").setVectorSize(vectorSize)
      .setMinCount(minCount).setMaxSentenceLength(1000)
      .setMaxIter(maxIter).setSeed(seed)
    val norm = new Normalizer().setInputCol(s"${input}_w2v")
      .setOutputCol(output).setP(2.0)
    new Pipeline().setStages(Array(tok, stop, w2v, norm))
  }

  /** F12 — price scalar → 1-dim vector, keeping rows with missing price as
    * NaN vectors (`01:467-473`, handleInvalid='keep'). */
  def pricePipeline(input: String = "price_f",
                    output: String = "price_features"): Pipeline =
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array(input)).setOutputCol(output)
        .setHandleInvalid("keep")))

  /** End-to-end feature build over a unioned two-catalog frame with columns
    * (table, id, name, description, price): clean the price string (P1),
    * default the description (P3), fit all three pipelines on the full corpus
    * (A4), and emit the `abtbuyfeatures`-shaped table (`01:489-508`).
    *
    * Unlike the reference — which writes three feature tables and 3-way
    * equi-joins them back on (table,id) (`01:489-494`, one shuffle per join)
    * — chaining the three fitted models over one cached frame accumulates
    * all three vector columns with zero joins. The J1 join form is still
    * available (and exercised) as a standalone operator.
    */
  def buildFeatures(catalogs: DataFrame, w2vMaxIter: Int = 8,
                    w2vMinCount: Int = 1,
                    seed: Long = 42L): (PipelineModel, PipelineModel, PipelineModel, DataFrame) = {
    val base = catalogs
      .withColumn("description", coalesce(col("description"), lit("")))
      .withColumn("price_f", regexp_replace(col("price"), "\\$", "").cast("float"))
      .cache()
    // materialize the cache once, then fit the three INDEPENDENT
    // pipelines concurrently: each fit is deterministic given (data,
    // seed), and none reads another's output, so thread-parallel
    // scheduling changes nothing but the wall clock — fit wall is
    // max(name, descript, price) instead of their sum. At fixture scale
    // the seeded W2V fit dominates all three (measured: no wall change),
    // so this buys nothing there; it pays when the name/price corpora
    // carry real weight, which is exactly when the sum would hurt.
    base.count()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val (nameM, descM, priceM) = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      // the pool's threads start inside the caller's span, so each fit's
      // span nests under it
      val nameF = Future(obs.span("name_fit")(namePipeline().fit(base)))
      val descF = Future(obs.span("descript_fit")(descriptW2VPipeline(
        maxIter = w2vMaxIter, minCount = w2vMinCount, seed = seed).fit(base)))
      val priceF = Future(obs.span("price_fit")(pricePipeline().fit(base)))
      (Await.result(nameF, Duration.Inf), Await.result(descF, Duration.Inf),
        Await.result(priceF, Duration.Inf))
    } finally pool.shutdown()
    // name/description come along as blocking keys (a deduped LSH join
    // needs a key that *determines* the corresponding feature vector)
    val feats = priceM.transform(descM.transform(nameM.transform(base)))
      .select("table", "id", "name", "description",
        "name_features", "descript_features", "price_features")
    (nameM, descM, priceM, feats)
  }
}
