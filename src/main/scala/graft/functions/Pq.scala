package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split each d-dim vector into
  * `m` subvectors, vector-quantize each against its own `ksub`-centroid
  * codebook, and represent the vector by its `m` small codes. With
  * m = 8, ksub = 16 a 64-dim float vector (256 bytes) becomes 8 codes
  * (8 bytes) — a 32× storage/shuffle/memory compression that is the
  * difference between an in-memory index fitting a cluster or not at
  * 100 TB.
  *
  * Search runs over CODES, not vectors (asymmetric distance computation,
  * ADC): each query precomputes an m×ksub table of squared distances to
  * every centroid, and a corpus candidate's distance is m table lookups.
  *
  * Scale shape: training is `m` KMeans fits over a SAMPLED projection
  * (one cached pass feeds all fits); encoding is in-scan (native
  * expression, codebooks ride the closure — a few KB); search broadcasts
  * the query tables and the corpus codes NEVER shuffle — the only
  * exchange is the per-query top-k window, same as [[Similarity
  * .bruteForceKnn]] but over 32×-smaller rows and O(m) per-pair compute
  * instead of O(d). */
object Pq {

  /** Trained codebooks: centroid t of subspace j, component c is
    * `flat((j*ksub + t)*dsub + c)`. Small by construction
    * (m·ksub·dsub floats ≈ the original vector size × ksub). */
  final case class Codebooks(m: Int, ksub: Int, dsub: Int, flat: Array[Float]) {
    require(flat.length == m * ksub * dsub, "codebook shape mismatch")
  }

  /** Fit per-subspace codebooks by seeded k-means++ + Lloyd iterations
    * over a BOUNDED training sample.
    *
    * The sample is the scale contract: codebooks need a representative
    * sample, not the corpus, so `trainFraction`/`maxTrainRows` bound
    * what one distributed sampling pass collects (the same
    * bounded-driver-artifact protocol as the broadcast LM vocab), and
    * the Lloyd iterations then run locally — at any corpus size the
    * distributed cost of training is ONE sampling job, not
    * m × maxIter clustering jobs. Local training is also deterministic
    * given the seed, independent of cluster partitioning.
    *
    * Degenerate samples (fewer distinct points than `ksub`) cycle the
    * available centroids so encoding stays total. */
  def train(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, trainFraction: Double = 1.0, maxIter: Int = 10,
      maxTrainRows: Int = 1 << 16): Codebooks =
    trainLocal(collectSample(corpus, vecCol, trainFraction, seed, maxTrainRows),
      m, ksub, seed, maxIter)

  /** The ONE distributed job of PQ training: a bounded sample of the
    * vector column as driver-local arrays (see [[train]]'s scale
    * contract). Exposed so compositions ([[IvfPq]], [[Ivf]]) can train
    * several quantizers from a single sampling pass.
    *
    * The bound is the n smallest rows by a seeded content hash,
    * computed by a depth-2 `treeAggregate` of per-partition bounded
    * heaps: every tree stage (and the driver) receives at most n rows,
    * where the earlier TakeOrdered formulation merged P·n rows AT THE
    * DRIVER — real network volume at extreme partition counts (the
    * round-6 review's finding). NOT a bare `limit`: a bare limit takes
    * the first partitions' rows, and on a corpus physically ordered by
    * source/topic (the normal post-ingest layout) that prefix would
    * train centroids on one region of the distribution — a silent
    * recall collapse no small-SF test can catch.
    *
    * The ordering key is `xxhash64(vec, seed)` — CONTENT-derived, so the
    * selected sample (and thus the codebooks and every downstream search
    * result) is identical for any physical partitioning of the corpus
    * (heap merges commute under distinct keys). `rand(seed)` would not
    * be: it reseeds per partition index, so a repartition silently
    * retrains different codebooks under the same seed. Rows with
    * identical vectors tie, but tied rows carry identical content, so
    * the sample multiset is unaffected by which one wins. */
  private[graft] def collectSample(corpus: DataFrame, vecCol: String,
      trainFraction: Double, seed: Long, maxTrainRows: Int): Array[Array[Double]] = {
    // max-heap on the hash: holds the n SMALLEST hashes seen
    type Heap = scala.collection.mutable.PriorityQueue[(Long, Array[Double])]
    def newHeap(): Heap = new Heap()(Ordering.by(_._1))
    def push(h: Heap, e: (Long, Array[Double])): Heap = {
      if (h.size < maxTrainRows) h.enqueue(e)
      else if (e._1 < h.head._1) { h.dequeue(); h.enqueue(e) }
      h
    }
    val raw =
      (if (trainFraction < 1.0) corpus.sample(withReplacement = false, trainFraction, seed)
       else corpus)
        .select(col(vecCol)).where(col(vecCol).isNotNull)
        .select(xxhash64(col(vecCol), lit(seed)).as("__h"), col(vecCol).as("__v"))
        .rdd.map(r => (r.getLong(0),
          r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray))
        .treeAggregate(newHeap())(push, (a, b) => { b.foreach(push(a, _)); a },
          depth = 2)
        .toArray.sortBy(_._1) // ascending hash order, as orderBy produced
        .map(_._2)
    if (raw.isEmpty) raw
    else {
      // wrong-dimension vectors cannot train: subspace slicing would
      // zero-pad (copyOfRange) or crash on them, silently skewing the
      // codebooks. Keep the MODAL dimension (ties broken toward the
      // larger — deterministic); encode-time then nulls the stragglers
      // out via PqEncode's length check.
      val dim = raw.groupBy(_.length).maxBy { case (l, g) => (g.length, l) }._1
      raw.filter(_.length == dim)
    }
  }

  /** Deterministic local codebook fit over an already-collected sample
    * (k-means++ + Lloyd per subspace — the non-distributed half of
    * [[train]]). */
  private[functions] def trainLocal(sampled: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long, maxIter: Int): Codebooks = {
    require(m > 0 && ksub > 1, s"need m > 0 subspaces and ksub > 1 centroids, got $m/$ksub")
    require(sampled.nonEmpty, "empty training sample")
    val dim = sampled(0).length
    require(dim % m == 0, s"vector dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val flat = new Array[Float](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val pts = sampled.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val centers = lloyd(pts, ksub, maxIter, new scala.util.Random(seed + j))
      var t = 0
      while (t < ksub) {
        val ctr = centers(t % centers.length)
        var c = 0
        while (c < dsub) { flat((j * ksub + t) * dsub + c) = ctr(c).toFloat; c += 1 }
        t += 1
      }
      j += 1
    }
    Codebooks(m, ksub, dsub, flat)
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Seeded k-means++ init + Lloyd. Returns the distinct centroids found
    * (≤ k when the data has fewer distinct points).
    *
    * The two n·k·d distance sweeps (seeding's nearest-center update and
    * Lloyd's assignment) run PARALLEL over points — each point's result
    * is independent and written to its own slot, and every reduction
    * that follows (the pick scan, the centroid sums) stays serial in
    * point order, so the output is bit-identical to the sequential
    * loop. This is the driver-side cost that grows with nClusters (the
    * r16 sf10 probe measured the k=512 single-threaded sweeps — ~13G
    * multiply-adds — dominating sim_semdedup's 253s row;
    * bench_history/sf10_probe_20260817_001700.json, decomposition in
    * SURVEY §8). */
  private def lloyd(pts: Array[Array[Double]], k: Int, maxIter: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val n = pts.length
    val kEff = math.min(k, n)
    def parSweep(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, n).parallel().forEach(i => body(i))
    // k-means++ seeding: each next center drawn ∝ distance² to the
    // nearest chosen one (Arthur & Vassilvitskii, SODA 2007)
    val centers = new Array[Array[Double]](kEff)
    centers(0) = pts(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kEff) {
      val prev = centers(c - 1)
      parSweep { i => d2(i) = math.min(d2(i), sqDist(pts(i), prev)) }
      val total = d2.sum
      var pick = if (total > 0) rnd.nextDouble() * total else 0.0
      var idx = 0
      while (idx < n - 1 && pick > d2(idx)) { pick -= d2(idx); idx += 1 }
      centers(c) = pts(idx).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    val next = new Array[Int](n)
    var iter = 0
    while (iter < maxIter) {
      parSweep { i =>
        var best = 0; var bestD = Double.MaxValue
        var t = 0
        while (t < kEff) {
          val d = sqDist(pts(i), centers(t))
          if (d < bestD) { bestD = d; best = t }
          t += 1
        }
        next(i) = best
      }
      var moved = false
      var i = 0
      while (i < n) {
        if (assign(i) != next(i)) { assign(i) = next(i); moved = true }
        i += 1
      }
      if (!moved && iter > 0) iter = maxIter
      else {
        val sums = Array.fill(kEff)(new Array[Double](pts(0).length))
        val counts = new Array[Int](kEff)
        i = 0
        while (i < n) {
          val t = assign(i); counts(t) += 1
          var z = 0
          while (z < pts(i).length) { sums(t)(z) += pts(i)(z); z += 1 }
          i += 1
        }
        var t = 0
        while (t < kEff) {
          // an emptied cluster keeps its previous centroid (still a
          // valid quantization point) rather than collapsing to zero
          if (counts(t) > 0) {
            var z = 0
            while (z < sums(t).length) { centers(t)(z) = sums(t)(z) / counts(t); z += 1 }
          }
          t += 1
        }
        iter += 1
      }
    }
    centers
  }

  /** vector → array<int> of `m` codes (in-scan). */
  def encode(vec: Column, cb: Codebooks): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn(PqEncode(GraftColumn.expr(vec), cb))
  }

  /** vector → the `n` nearest subspace-0 centroids as array<int>,
    * ordered by (squared L2 distance asc, centroid index asc) — the IVF
    * probe LIST computed in-scan (r17). Replaces the
    * crossJoin(centroids) + window probe rank whose row blowup was
    * |vectors|·nLists (sf10 measured 200k·448 = 90M rows through a
    * 90M-row window sort for 3.2M probe rows out). Requires a
    * 1-subspace codebook. */
  def encodeTop(vec: Column, cb: Codebooks, n: Int): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn(PqEncodeTop(GraftColumn.expr(vec), cb, n))
  }

  /** codes → array<float> reconstruction (centroid concatenation) — for
    * reconstruction-quality auditing and rerank-free consumers. */
  def decode(codes: Column, cb: Codebooks): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn(PqDecode(GraftColumn.expr(codes), cb))
  }

  /** query vector → flattened m×ksub ADC table of squared distances. */
  def adcTable(qvec: Column, cb: Codebooks): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn(PqAdcTable(GraftColumn.expr(qvec), cb))
  }

  /** (codes, table) → squared-L2 ADC distance: m lookups. */
  def adcDist(codes: Column, table: Column, ksub: Int): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn(PqAdcDist(GraftColumn.expr(codes), GraftColumn.expr(table), ksub))
  }

  /** k-NN over PQ codes: encode the corpus in-scan, broadcast the query
    * ADC tables, rank by asymmetric distance (ties broken by id for
    * engine-deterministic output). The corpus never shuffles; the only
    * exchange is the WindowGroupLimit top-k, carrying (qid, id, dist)
    * triples — no vectors, no codes.
    *
    * Self-exclusion contract (`excludeSelfId`, default true, mirroring
    * [[Similarity.bruteForceKnn]]): query and corpus ids are assumed to
    * share ONE id space, and a corpus row whose id equals the query's is
    * dropped as "the query itself". If the two id spaces are unrelated,
    * a coincidental id collision would silently hide a legitimate
    * neighbor — pass `excludeSelfId = false` for disjoint id spaces. */
  def pqKnn(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      cb: Codebooks, scoreDp: Int = 6, excludeSelfId: Boolean = true): DataFrame = {
    val codes = corpus.select(col(idCol), encode(col(vecCol), cb).as("__codes"))
    val qt = queries.select(col(qidCol), adcTable(col(qvecCol), cb).as("__tab"))
    val scored = codes.crossJoin(broadcast(qt))
      .where(if (excludeSelfId) col(qidCol) =!= col(idCol) else lit(true))
      .select(col(qidCol), col(idCol),
        round(adcDist(col("__codes"), col("__tab"), cb.ksub), scoreDp).as("dist"))
      // a malformed vector (null / wrong dim) nulls its codes and thus its
      // distance — and ASC ranks NULLS FIRST, so without this filter every
      // query would report the malformed row at rank 1
      .where(col("dist").isNotNull)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** True if any element is NULL. A vector or code list with a NULL
    * element has no distance and no centroid, so every PQ kernel returns
    * NULL for it (the unsearchable contract), instead of reading the NULL
    * slot as 0. */
  private[functions] def hasNullElement(arr: ArrayData): Boolean = {
    var i = 0
    while (i < arr.numElements()) { if (arr.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Read element `i` of a float/double array column as double. */
  private[functions] def elemAsDouble(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  private[functions] def vecTypeCheck(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float|double>, got ${other.simpleString}")
  }
}

/** vector → `m` codes: per subspace, argmin-distance centroid (lowest
  * index wins ties — deterministic). Native expression: the argmin is a
  * tight m·ksub·dsub loop per row against a codebook array that lives
  * once per task; a HOF composition would rebuild the codebook literal
  * per element (no CSE for interpreted HOFs). Null / wrong-dimension
  * vectors, and vectors with a null element, → null. */
case class PqEncode(child: Expression, cb: Pq.Codebooks)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    Pq.vecTypeCheck(prettyName, child.dataType)

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val Pq.Codebooks(m, ksub, dsub, flat) = cb
    if (v.numElements() != m * dsub || Pq.hasNullElement(v)) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Double.MaxValue
      var t = 0
      while (t < ksub) {
        var d = 0.0
        var c = 0
        while (c < dsub) {
          val diff = Pq.elemAsDouble(v, j * dsub + c, isFloat) - flat((j * ksub + t) * dsub + c)
          d += diff * diff
          c += 1
        }
        if (d < bestD) { bestD = d; best = t }
        t += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** vector → the `n` nearest subspace-0 centroids, ordered by (squared
  * L2 distance asc, index asc) — [[PqEncode]]'s probe-LIST sibling for
  * IVF probing (1-subspace codebooks only). The distance accumulation
  * order matches [[Ivf.sqDist]]'s sequential fold exactly (0.0 seed,
  * dim-ascending `acc + diff²`, float elements widened per element), so
  * the selected lists and their tie-breaks are bit-identical to the
  * crossJoin + `row_number over (dist, list)` probe rank this replaces.
  * Null / wrong-dimension vectors, and vectors with a null element, →
  * null (the unsearchable contract). */
case class PqEncodeTop(child: Expression, cb: Pq.Codebooks, n: Int)
    extends UnaryExpression with UnaryKernelCodegen {

  require(cb.m == 1, s"pq_encode_top needs a 1-subspace codebook, got m=${cb.m}")
  require(n >= 1 && n <= cb.ksub,
    s"n must be in [1, ksub=${cb.ksub}], got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_top"

  override def checkInputDataTypes(): TypeCheckResult =
    Pq.vecTypeCheck(prettyName, child.dataType)

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val Pq.Codebooks(_, ksub, dsub, flat) = cb
    if (v.numElements() != dsub || Pq.hasNullElement(v)) return null
    val dist = new Array[Double](ksub)
    var t = 0
    while (t < ksub) {
      var d = 0.0
      var c = 0
      while (c < dsub) {
        val diff = Pq.elemAsDouble(v, c, isFloat) - flat(t * dsub + c)
        d += diff * diff
        c += 1
      }
      dist(t) = d
      t += 1
    }
    val idx = Array.tabulate(ksub)(java.lang.Integer.valueOf)
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val cmp = java.lang.Double.compare(dist(a), dist(b))
        if (cmp != 0) cmp else java.lang.Integer.compare(a, b)
      }
    })
    new GenericArrayData(idx.take(n).map(_.intValue))
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeTop =
    copy(child = newChild)
}

/** codes → reconstructed vector (concatenated centroids). A wrong-length
  * code list, an out-of-range code or a null code → null. */
case class PqDecode(child: Expression, cb: Pq.Codebooks)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_decode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_decode requires array<int>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val Pq.Codebooks(m, ksub, dsub, flat) = cb
    if (codes.numElements() != m || Pq.hasNullElement(codes)) return null
    val out = new Array[Float](m * dsub)
    var j = 0
    while (j < m) {
      val t = codes.getInt(j)
      if (t < 0 || t >= ksub) return null
      var c = 0
      while (c < dsub) { out(j * dsub + c) = flat((j * ksub + t) * dsub + c); c += 1 }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqDecode =
    copy(child = newChild)
}

/** query vector → flattened m×ksub table: entry (j, t) is the squared
  * distance of query subvector j to centroid t. Computed once per query
  * row; every corpus candidate afterwards costs m lookups. Null /
  * wrong-dimension vectors, and vectors with a null element, → null. */
case class PqAdcTable(child: Expression, cb: Pq.Codebooks)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_table"

  override def checkInputDataTypes(): TypeCheckResult =
    Pq.vecTypeCheck(prettyName, child.dataType)

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val Pq.Codebooks(m, ksub, dsub, flat) = cb
    if (v.numElements() != m * dsub || Pq.hasNullElement(v)) return null
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var t = 0
      while (t < ksub) {
        var d = 0.0
        var c = 0
        while (c < dsub) {
          val diff = Pq.elemAsDouble(v, j * dsub + c, isFloat) - flat((j * ksub + t) * dsub + c)
          d += diff * diff
          c += 1
        }
        out(j * ksub + t) = d
        t += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** (codes, flattened table) → Σ_j table(j·ksub + codes(j)). */
case class PqAdcDist(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with BinaryKernelCodegen {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dist"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_dist requires (array<int>, array<double>), got (${l.simpleString}, ${r.simpleString})")
  }

  override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val table = tableAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m * ksub != table.numElements()) return null
    var d = 0.0
    var j = 0
    while (j < m) {
      val t = codes.getInt(j)
      if (t < 0 || t >= ksub) return null
      d += table.getDouble(j * ksub + t)
      j += 1
    }
    d
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcDist =
    copy(left = newLeft, right = newRight)
}
