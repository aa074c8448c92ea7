package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — inverted file with asymmetric distance computation (Jégou,
  * Douze, Schmid, TPAMI 2011, §IV): the billion-vector composition of
  * [[Ivf]] and [[Pq]]. A coarse quantizer routes each vector to one of
  * `nLists` cells; the RESIDUAL against the cell centroid is product-
  * quantized to `m` codes. A query probes its `nProbe` nearest cells and
  * ranks only those cells' codes by ADC lookups against a per-cell
  * residual table.
  *
  * Why this composition is THE scale path: IVF alone still stores and
  * scans full vectors inside probed cells; PQ alone still scans every
  * code. IVFADC scans ~nProbe/nLists of the corpus at m lookups per
  * candidate over 32×-compressed rows — both axes cut at once. Residual
  * (not raw) quantization matters: residuals concentrate near zero, so
  * the same `ksub` centroids cover them with far less error than the
  * raw distribution.
  *
  * Scale shape: training is ONE distributed sampling job (both
  * quantizers fit locally from the same bounded sample — deterministic
  * given the seed, independent of partitioning). Index encoding is
  * in-scan (native expressions; both codebooks ride the closure — KBs).
  * Search broadcasts per-(query, cell) ADC tables and joins them to the
  * index by LIST-ID EQUALITY: corpus codes never shuffle, and the only
  * exchange is the per-query top-k window over (qid, id, dist) triples.
  * The index DataFrame (id, list, codes) is the stored artifact —
  * write it to parquet partitioned by list and incremental batches
  * append without touching existing cells.
  */
object IvfPq {

  /** A trained IVFADC quantizer pair: `coarse` is a 1-subspace codebook
    * whose `nLists` centroids are the cells; `fine` quantizes residuals. */
  final case class Index(coarse: Pq.Codebooks, fine: Pq.Codebooks) {
    def nLists: Int = coarse.ksub
  }

  /** Fit both quantizers from ONE bounded distributed sample: coarse
    * cells over raw vectors, then the fine codebooks over the sample's
    * own residuals (the distribution the index will actually encode). */
  def train(corpus: DataFrame, vecCol: String, nLists: Int = 16, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, trainFraction: Double = 1.0,
      maxIter: Int = 10, maxTrainRows: Int = 1 << 16): Index = {
    val sampled = Pq.collectSample(corpus, vecCol, trainFraction, seed, maxTrainRows)
    val coarse = Pq.trainLocal(sampled, 1, nLists, seed, maxIter)
    val dim = coarse.dsub
    val residuals = sampled.map { v =>
      // local assignment against the coarse centroids (same argmin as
      // the in-scan PqEncode: lowest index wins ties)
      var best = 0; var bestD = Double.MaxValue
      var t = 0
      while (t < nLists) {
        var d = 0.0; var c = 0
        while (c < dim) { val x = v(c) - coarse.flat(t * dim + c); d += x * x; c += 1 }
        if (d < bestD) { bestD = d; best = t }
        t += 1
      }
      val r = new Array[Double](dim)
      var c = 0
      while (c < dim) { r(c) = v(c) - coarse.flat(best * dim + c); c += 1 }
      r
    }
    // different seed stream than the coarse fit: the two quantizers must
    // not correlate their k-means++ draws over related point sets
    Index(coarse, Pq.trainLocal(residuals, m, ksub, seed + 7919, maxIter))
  }

  /** Encode the corpus as the storable index: (`idCol`, `list` int,
    * `codes` array<int> of the residual's PQ codes) — all in-scan.
    *
    * Rows whose vector is null or has the wrong dimension are EXCLUDED
    * (PqEncode's null contract): an unsearchable vector must not land in
    * the index as a `list = null` partition that no probe can ever
    * reach. Callers that must account for every input row compare
    * `corpus.count()` with the index count. */
  def encodeIndex(corpus: DataFrame, idCol: String, vecCol: String,
      ix: Index): DataFrame = {
    val coarseCodes = Pq.encode(col(vecCol), ix.coarse)
    val centroid = Pq.decode(coarseCodes, ix.coarse)
    val residual = zip_with(col(vecCol), centroid,
      (x, c) => x.cast("double") - c.cast("double"))
    corpus.select(col(idCol),
      element_at(coarseCodes, 1).as("list"),
      Pq.encode(residual, ix.fine).as("codes"))
      .where(col("list").isNotNull)
  }

  /** Incremental index append — the arriving-batch protocol, mirroring
    * [[Dedup.exactDedupAgainst]]'s shape for vectors: encode the batch
    * with the SAME trained [[Index]] (no retraining — codebooks are a
    * frozen artifact; retraining would silently re-map every existing
    * code) and union it onto the standing index. [[search]] over the
    * result spans old and new rows transparently, because the index
    * representation is just (id, list, codes).
    *
    * Parquet protocol at scale: the standing index lives as parquet
    * partitioned by `list`; appending a batch is
    * `encodeIndex(batch).write.mode("append").partitionBy("list")` —
    * only the arriving cells' partitions gain files, existing files are
    * never touched, and probe-time list pruning keeps working through
    * partition pruning on the read. This method is the in-memory
    * equivalent for already-loaded indexes. */
  def appendBatch(index: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, ix: Index): DataFrame =
    index.unionByName(encodeIndex(batch, idCol, vecCol, ix))

  /** Per-query probe selection: (`qidCol`, `list`, `__centroid`) — the
    * `nProbe` cells nearest each query. */
  private def probeSelection(ix: Index, queries: DataFrame, qidCol: String,
      qvecCol: String, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= ix.nLists,
      s"nProbe must be in [1, ${ix.nLists}], got $nProbe")
    val spark = queries.sparkSession
    val dim = ix.coarse.dsub
    val centroids = spark.createDataFrame(
      (0 until ix.nLists).map(t =>
        (t, (0 until dim).map(c => ix.coarse.flat(t * dim + c).toDouble).toArray)))
      .toDF("list", "__centroid")
    // probe lists computed IN-SCAN (r17 — PqEncodeTop, the bitext/ivfKnn
    // fix applied here too): the nProbe nearest cells per query with the
    // identical metric and (distance, list) tie-break the former
    // crossJoin + row_number rank produced, without materializing
    // |queries|·nLists rows through a window sort. A malformed (null /
    // wrong-dim) query vector yields a NULL probe list and explodes to
    // nothing — the same "such a query probes nothing" contract the old
    // null-distance filter enforced. The probed cells' centroids
    // (needed downstream for the residual ADC tables) re-attach through
    // the tiny nLists-row broadcast join.
    queries.select(col(qidCol), col(qvecCol),
        explode(Pq.encodeTop(col(qvecCol), ix.coarse, nProbe)).as("list"))
      .join(broadcast(centroids), "list")
      .select(col(qidCol), col("list"), col("__centroid"), col(qvecCol))
  }

  /** The (query, cell) pairs a search would scan — the pruning
    * diagnostic: joined against per-cell index sizes it yields the
    * scanned fraction, the quantity IVF exists to bound (~nProbe/nLists
    * of the corpus per query). */
  def probedLists(ix: Index, queries: DataFrame, qidCol: String,
      qvecCol: String, nProbe: Int = 4): DataFrame =
    probeSelection(ix, queries, qidCol, qvecCol, nProbe)
      .select(col(qidCol), col("list"))

  /** k-NN of `queries` against an encoded index. Each query ranks the
    * broadcast cell centroids, keeps its `nProbe` nearest, and carries
    * ONE ADC table per probed cell — built from the query's residual
    * against THAT cell's centroid, so code lookups measure
    * ||query − centroid − residual_quantized||², the IVFADC distance.
    * The index side is touched only by a broadcast hash join on the
    * small-int list id.
    *
    * Self-exclusion contract (`excludeSelfId`, default true, mirroring
    * [[Pq.pqKnn]] and [[Similarity.bruteForceKnn]]): query and index ids
    * are assumed to share one id space and an id-equal index row is
    * dropped as "the query itself"; pass `excludeSelfId = false` when
    * the two id spaces are unrelated, or a coincidental collision would
    * silently hide a legitimate neighbor. */
  def search(index: DataFrame, idCol: String, ix: Index,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nProbe: Int = 4, scoreDp: Int = 6, excludeSelfId: Boolean = true): DataFrame = {
    val probes = probeSelection(ix, queries, qidCol, qvecCol, nProbe)
      .select(col(qidCol), col("list"),
        Pq.adcTable(zip_with(col(qvecCol), col("__centroid"),
          (x, c) => x.cast("double") - c), ix.fine).as("__tab"))
    val scored = index.join(broadcast(probes), "list")
      .where(if (excludeSelfId) col(qidCol) =!= col(idCol) else lit(true))
      .select(col(qidCol), col(idCol),
        round(Pq.adcDist(col("codes"), col("__tab"), ix.fine.ksub), scoreDp).as("dist"))
      // a null ADC distance (malformed query vector → null table) must
      // not rank first under ASC's NULLS FIRST — drop it
      .where(col("dist").isNotNull)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Train + encode + search in one call (the test-scale convenience;
    * at corpus scale, train once, write [[encodeIndex]] to parquet, and
    * [[search]] against the read-back index). The result is a plan Spark
    * recomputes from lineage: [[search]] reads the encoded index once,
    * so nothing needs sharing. */
  def ivfPqKnn(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, trainFraction: Double = 1.0,
      maxTrainRows: Int = 1 << 16, scoreDp: Int = 6): DataFrame = {
    val ix = train(corpus, vecCol, nLists, m, ksub, seed, trainFraction,
      maxTrainRows = maxTrainRows)
    search(encodeIndex(corpus, idCol, vecCol, ix), idCol, ix, queries, qidCol, qvecCol,
      k, nProbe, scoreDp)
  }
}
