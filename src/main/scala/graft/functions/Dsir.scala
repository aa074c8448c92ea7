package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
  * rank a raw corpus by how target-like each document is under bag-of-
  * hashed-ngram multinomial models of a (small) target corpus vs the raw
  * corpus, then keep the top slice. The standard cheap alternative to
  * model-based quality filtering when "quality" means "looks like this
  * reference corpus" (e.g. select web text that resembles Wikipedia).
  *
  * Scale shape: feature hashing bounds the model to `buckets` cells no
  * matter the corpus vocabulary; both count passes are partial-aggregated
  * groupBys on the bucket id; the weight table is vocabulary-bounded and
  * broadcast for scoring, so the raw corpus is scored in ONE scan with
  * zero shuffles of document data (the per-doc sum is a groupBy on the
  * doc id — the only exchange, carrying (id, bucket) pairs).
  */
object Dsir {

  private def bucketTokens(df: DataFrame, cols: Seq[Column], textCol: String,
      buckets: Int): DataFrame =
    df.select(cols :+ explode(split(col(textCol), " ")).as("tok"): _*)
      .where(col("tok") =!= "")
      .select(cols :+ pmod(xxhash64(col("tok")), lit(buckets.toLong)).as("b"): _*)

  /** Per-bucket importance weight ln(p̂_target(b)) − ln(p̂_raw(b)) with
    * add-one smoothing over the OBSERVED feature set (V = buckets seen in
    * either corpus, so the weights are identical to un-hashed word-level
    * weights whenever the hash is collision-free on the corpus
    * vocabulary — the hashing is a memory bound, not a semantics change).
    * Returns (b, w), one row per observed bucket. */
  def importanceWeights(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int = 1 << 22): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def counts(df: DataFrame) =
      bucketTokens(df, Seq.empty, textCol, buckets)
        .groupBy("b").agg(count(lit(1L)).as("c"))
    // read twice (totals, weights): pinned after the count exchanges,
    // so each read replays only the bucket-keyed join, never the corpus
    val joined = GraftColumn.pinned(counts(target).withColumnRenamed("c", "ct")
      .join(counts(raw).withColumnRenamed("c", "cr"), Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr")))
    val totals = joined.agg(sum("ct").as("nt"), sum("cr").as("nr"),
      count(lit(1L)).as("v"))
    val w = joined.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
          log((col("cr") + 1).cast("double") / (col("nr") + col("v")).cast("double")))
          .as("w"))
    w
  }

  /** Per-document DSIR score: Σ over token instances of the token's
    * bucket weight, rounded to `scoreDp` so downstream rank-and-cut
    * selection is deterministic across engines. Tokens outside the
    * weight table contribute 0; documents with no non-empty tokens
    * produce no row (they cannot be selected). */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 1 << 22, scoreDp: Int = 6): DataFrame =
    bucketTokens(docs, Seq(col(idCol)), textCol, buckets)
      .join(broadcast(weights), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(round(sum(coalesce(col("w"), lit(0.0))), scoreDp).as("dsir_score"))

  /** The top-`k` rows by (scoreCol desc, idCol) — exact selection via a
    * total sort + limit (TakeOrdered for small k; range-partitioned sort
    * otherwise). At extreme scale prefer cutting at an approx-quantile
    * score threshold instead of an exact k — the same
    * approx-vs-exact tradeoff as DataPrep.bucketByQuantiles. */
  def resampleTop(scored: DataFrame, idCol: String, scoreCol: String,
      k: Int): DataFrame =
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(k)

  /** Gumbel-top-k importance RESAMPLING: k rows drawn without
    * replacement with probability proportional to
    * softmax(score / temperature) — the DSIR paper's actual resampling
    * semantics ([[resampleTop]] is its temperature→0 limit), via the
    * Gumbel-max trick: rank by score/T + Gumbel noise and keep the
    * top k. The noise is DERANDOMIZED — a pure function of (seed, id)
    * through the same engine-portable md5 uniform as
    * DataPrep.hashBucket — so the "sample" is reproducible across
    * engines, runs, and cluster layouts, and re-drawable with a new
    * seed. Keys are rounded with an id tie-break before ranking
    * (cross-engine determinism); selection is a sort + limit like
    * [[resampleTop]]. */
  def resampleGumbelTopK(scored: DataFrame, idCol: String, scoreCol: String,
      k: Int, temperature: Double = 1.0, seed: Long = 0L,
      keyDp: Int = 6): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    // u ∈ (0,1): 32 bits of md5(seed_id), offset by 0.5 ulp so the
    // double log never sees 0 or 1
    val u = (conv(substring(md5(concat(lit(s"${seed}_"),
        col(idCol).cast("string"))), 1, 8), 16, 10).cast("double") + 0.5) /
      lit(4294967296.0)
    val key = col(scoreCol) / lit(temperature) - log(-log(u))
    scored.withColumn("gumbel_key", round(key, keyDp))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }
}
