package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the standard
  * scale path for embedding search next to LSH: partition the corpus
  * into `nLists` Voronoi cells, then answer each query by scanning only
  * its `nProbe` nearest cells.
  *
  * Scale shape: training is ONE distributed job (a bounded sample
  * collected to the driver; seeded k-means++ + Lloyd run locally — the
  * same protocol as [[Pq.train]], so cost is independent of corpus size
  * and the centroids are deterministic given the seed). Assignment is
  * IN-SCAN (the coarse quantizer is [[PqEncode]] with one subspace —
  * centroids ride the closure, no shuffle, no ML vector conversion).
  * Per query, the candidate set is ~nProbe/nLists of the corpus joined
  * by LIST-ID EQUALITY — the join key is a small int, vectors shuffle
  * once, and recall/cost trades off via nProbe with no plan change.
  * Centroids travel to the probe rank as a broadcast DataFrame, never
  * as plan literals.
  */
object Ivf {

  /** Squared L2 distance between two array columns (cell assignment is
    * by euclidean distance, so probe ranking must match its metric). */
  private[functions] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, x) => acc + x)

  /** Semantic cluster assignment — the IVF coarse quantizer as a public
    * operator (k-means topic cells for embedding-aware curation:
    * cluster-balanced sampling, per-topic stats, SemDeDup-style
    * grouping). ONE bounded seeded sampling job trains the centroids
    * (content-hash-ordered — deterministic under any partitioning);
    * assignment is the in-scan [[PqEncode]] argmin, zero shuffles.
    * Rows with null / wrong-dimension vectors are dropped (they are
    * un-clusterable; mirrors ivfKnn's null-cell contract). */
  def clusterAssign(df: DataFrame, vecCol: String, nClusters: Int,
      seed: Long = 42L, trainFraction: Double = 1.0,
      maxTrainRows: Int = 1 << 16, clusterCol: String = "cluster"): DataFrame = {
    val sampled = Pq.collectSample(df, vecCol, trainFraction, seed, maxTrainRows)
    val coarse = Pq.trainLocal(sampled, m = 1, ksub = nClusters, seed = seed, maxIter = 5)
    df.withColumn(clusterCol, element_at(Pq.encode(col(vecCol), coarse), 1))
      .where(col(clusterCol).isNotNull)
  }

  /** Exact k-NN of each query against only the probed cells.
    *
    * `trainFraction`/`maxTrainRows` bound what the one sampling job
    * collects: centroid quality needs a representative sample, not the
    * corpus, and cells only gate CANDIDATE generation (exact cosine
    * re-ranks), so recall degrades negligibly. Few Lloyd iterations
    * suffice for the same reason.
    *
    * Cache protocol (same materialize-then-release shape as
    * [[Dedup.minhashNearDupPairs]]): the (small) top-k result is
    * captured eagerly by default; `materialize = false` keeps full
    * lineage for fault-tolerant long jobs. Nothing else needs a cache —
    * assignment is a single in-scan pass feeding one join. */
  def ivfKnn(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      scoreDp: Int = 4, trainFraction: Double = 1.0,
      maxTrainRows: Int = 1 << 16, materialize: Boolean = true): DataFrame = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    require(nLists > 1, s"nLists must be > 1, got $nLists")
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in [1, nLists=$nLists], got $nProbe")
    val spark = corpus.sparkSession

    val sampled = Pq.collectSample(corpus, vecCol, trainFraction, seed, maxTrainRows)
    // a 1-subspace PQ codebook IS a coarse quantizer: ksub centroids
    // over the whole vector, in-scan argmin assignment. Null / wrong-
    // dimension vectors assign to a null cell and are excluded here
    // (PqEncode's null contract — same as IvfPq.encodeIndex): an
    // unsearchable vector must not ride along as a null-keyed group.
    val coarse = Pq.trainLocal(sampled, m = 1, ksub = nLists, seed = seed, maxIter = 5)
    val assigned = corpus.select(col(idCol), col(vecCol),
      element_at(Pq.encode(col(vecCol), coarse), 1).as("__list"))
      .where(col("__list").isNotNull)

    // probe lists computed IN-SCAN (r17 — PqEncodeTop, the bitext
    // annCandidates fix applied here for the same reason): the former
    // crossJoin(centroids) + row_number probe rank materialized
    // |queries|·nLists rows through a window sort; the kernel emits the
    // nProbe nearest cells per query directly, with the identical
    // metric and (distance, list) tie-break (KernelCodegenSpec parity).
    // Null / wrong-dimension query vectors yield a null probe list and
    // drop — the same unsearchable contract as the corpus side.
    val probes = queries.select(col(qidCol), col(qvecCol),
        explode(Pq.encodeTop(col(qvecCol), coarse, nProbe)).as("__list"))
      .select(col(qidCol), col(qvecCol), col("__list"))

    val scored = probes.join(assigned, "__list")
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol),
        round(GraftFunctions.cosineSim(col(vecCol), col(qvecCol)), scoreDp).as("cos"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col(idCol))
    val result = scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    if (!materialize) result
    else result.localCheckpoint(true) // result is small: k rows per query
  }
}
