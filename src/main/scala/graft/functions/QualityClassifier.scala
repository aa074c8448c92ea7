package graft.functions

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the classifier step modern corpus
  * pipelines (fastText in Joulin et al., "Bag of Tricks for Efficient
  * Text Classification", EACL 2017; applied at corpus scale by
  * DCLM [Li et al. 2024] and FineWeb-Edu [Penedo et al. 2024]) run
  * between heuristic cleaning and training: learn a linear model over
  * hashed bag-of-ngram features from a small labeled seed set, then
  * score the full corpus and keep the top fraction.
  *
  * Heuristic filters (length/punctuation/stopword ratios — see
  * [[TextFunctions]]) catch structural junk; the learned model ranks
  * how much a document LOOKS like the reference distribution, which is
  * what actually moves downstream model quality.
  *
  * Spark-first shape: features are hashed in-scan (Column tokenization
  * + `HashingTF`, no vocabulary — no dictionary build job, no OOV), the
  * optimizer is spark.ml's L-BFGS logistic regression (one treeAggregate
  * pass per iteration over the BOUNDED labeled set), and scoring is a
  * stateless per-row projection: the coefficient vector rides the stage
  * broadcast, nothing shuffles, so the 100 TB scoring pass is exactly
  * one scan of the corpus.
  */
object QualityClassifier {

  /** A trained quality model plus the exact featurization it was trained
    * under — scoring MUST hash the same way training did, so the
    * tokenization parameters travel with the coefficients. */
  final case class Model(lr: LogisticRegressionModel, numFeatures: Int,
      bigrams: Boolean, lowercase: Boolean) extends Serializable {

    /** Add `scoreCol` ∈ [0,1] = P(label=1 | text): one in-scan
      * projection, no shuffle, coefficients shipped once per executor
      * via the task broadcast. */
    def score(df: DataFrame, textCol: String,
        scoreCol: String = "quality_score"): DataFrame = {
      val feat = featurizer(numFeatures)
      val scored = lr
        .setFeaturesCol(FeatCol).setPredictionCol(scoreCol + "__pred")
        .setProbabilityCol(scoreCol + "__prob")
        .setRawPredictionCol(scoreCol + "__raw")
        .transform(feat.transform(
          df.withColumn(TokCol, featureTokens(col(textCol), lowercase, bigrams))))
      scored
        .withColumn(scoreCol,
          element_at(vector_to_array(col(scoreCol + "__prob")), 2))
        .drop(TokCol, FeatCol, scoreCol + "__pred", scoreCol + "__prob",
          scoreCol + "__raw")
    }

    /** Keep rows scoring at or above `threshold` — the curation filter. */
    def filter(df: DataFrame, textCol: String, threshold: Double): DataFrame =
      score(df, textCol, "__q").where(col("__q") >= threshold).drop("__q")
  }

  private val TokCol = "__clf_toks"
  private val FeatCol = "__clf_feat"

  private def featurizer(numFeatures: Int): HashingTF =
    new HashingTF().setInputCol(TokCol).setOutputCol(FeatCol)
      .setNumFeatures(numFeatures).setBinary(true)

  /** Whitespace unigrams plus (optionally) joined bigrams, as pure
    * Column algebra inside the scan. Binary presence (not counts) is
    * hashed — robust to document length, matching the fastText-style
    * recipe. Null/blank text featurizes to an empty token array (the
    * model then scores it at its intercept). */
  def featureTokens(text: Column, lowercase: Boolean = true,
      bigrams: Boolean = true): Column = {
    val base0 = split(if (lowercase) lower(trim(text)) else trim(text), "\\s+")
    val base = when(text.isNull, array().cast("array<string>"))
      .otherwise(filter(base0, t => t =!= ""))
    if (!bigrams) base
    else {
      // zip each token with its successor; the final (last, null) pair is
      // dropped rather than collapsing into a spurious unigram.
      val bg = filter(
        zip_with(base, slice(base, lit(2), greatest(size(base) - 1, lit(0))),
          (a, b) => when(b.isNotNull, concat(a, lit("_"), b))),
        x => x.isNotNull)
      concat(base, bg)
    }
  }

  /** Fit a logistic model on a LABELED sample (`labelCol` ∈ {0, 1};
    * 1 = keep-worthy). The labeled set is small by construction — seed
    * sets in published pipelines are 10⁵–10⁶ documents — so each L-BFGS
    * iteration is one bounded treeAggregate pass; the corpus itself is
    * never touched by training.
    *
    * `numFeatures` trades collision rate for coefficient-vector size
    * (2²⁰ doubles = 8 MB — broadcast-friendly). `standardization` is
    * off: binary features are already on a common scale, and leaving it
    * on would densify the per-feature scaling. */
  def train(labeled: DataFrame, textCol: String, labelCol: String,
      numFeatures: Int = 1 << 20, bigrams: Boolean = true,
      lowercase: Boolean = true, regParam: Double = 1e-6,
      maxIter: Int = 100): Model = {
    // LogisticRegression blockifies its instances and caches the blocks
    // itself (a cache here would hold a second copy), but it reads its
    // input in more than one pass before that. The featurized set is
    // therefore repartitioned and pinned after that exchange: the text
    // is tokenized and hashed once, and each pass reads the shuffle
    // output (pipeline_quality_clf at sf0.1: 3.6–3.9 s, against
    // 4.7–5.4 s re-featurizing per pass, local[4])
    val prepared = GraftColumn.pinned(featurizer(numFeatures).transform(
      labeled
        .withColumn(TokCol, featureTokens(col(textCol), lowercase, bigrams))
        .withColumn("__clf_label", col(labelCol).cast("double")))
      .select(FeatCol, "__clf_label")
      .repartition(labeled.sparkSession.sessionState.conf.numShufflePartitions))
    val lr = new LogisticRegression()
      .setFeaturesCol(FeatCol).setLabelCol("__clf_label")
      .setRegParam(regParam).setElasticNetParam(0.0)
      .setStandardization(false).setMaxIter(maxIter)
    Model(lr.fit(prepared), numFeatures, bigrams, lowercase)
  }
}
