package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * Vectors are `array<float>` columns; all math is done in double via
  * higher-order functions (`zip_with` + `aggregate`) — codegen-friendly,
  * no UDFs, no driver-side vectors except the (small) query set, which is
  * broadcast.
  */
object Similarity {

  /** Σ a_i * b_i in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Vector scaled to unit L2 norm (zero vectors pass through unscaled —
    * dividing by a zero norm would poison downstream math with NaN). */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, a).otherwise(transform(a, x => x.cast("double") / n))
  }

  /** Seeded Rademacher random projection to `outDim` dimensions
    * (Johnson & Lindenstrauss 1984; Achlioptas, JCSS 2003 — ±1 entries
    * give the same distance-preservation guarantee as Gaussian ones):
    * out[j] = Σᵢ s(i,j)·v[i] / √outDim, with s(i,j) ∈ {±1} derived from
    * deterministic integer hash mixing of (i, j, seed) — the projection
    * is a pure function of the seed, identical on every engine, row
    * order, and cluster size, and an external engine can restate it
    * arithmetically (no stored matrix, no RNG state).
    *
    * The cheap 4× storage/shuffle cut for embedding pipelines whose
    * next stage is distance-based (ANN candidate generation, dedup
    * banding): distances distort by at most ε ≈ √(8·ln n / outDim)
    * w.h.p. Pure in-scan HOF algebra (nested transform/aggregate),
    * O(d·outDim) per row. */
  def randomProject(vec: Column, outDim: Int, seed: Long = 42L): Column = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val scale = math.sqrt(outDim.toDouble)
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) => {
          // xorshift-multiply sign mix: a plain mid-bit of i·odd + j·odd
          // is quasi-periodic (rows become shifted copies — correlated
          // projections, inflated variance); two xor-fold + multiply
          // rounds decorrelate rows, with every intermediate masked to
          // 32 bits so a restating engine with ERRORING (non-wrapping)
          // 64-bit multiplication stays in range
          val m = lit(4294967295L)
          val h1 = i.cast("long") * lit(2654435761L) + j.cast("long") * lit(97L) +
            lit(seed)
          val h2 = shiftright(h1, 13).bitwiseXOR(h1).bitwiseAND(m) * lit(40503L)
          val h3 = shiftright(h2, 11).bitwiseXOR(h2).bitwiseAND(m) * lit(69069L)
          val h4 = shiftright(h3, 9).bitwiseXOR(h3)
          val sign = lit(1L) - lit(2L) * shiftright(h4, 3).bitwiseAND(lit(1L))
          v.cast("double") * sign.cast("double")
        }),
        lit(0.0), (acc, x) => acc + x) / lit(scale))
  }

  /** Explicit random-feature map for [[mmdRff]] (Rahimi & Recht, NeurIPS
    * 2007 shape): feature j of x is √(2/D)·cos(γ·pⱼ(x) + 2πj/D), where
    * pⱼ is the seeded Rademacher projection of [[randomProject]] and the
    * phases are the deterministic 2πj/D grid (a FIXED feature map — the
    * kernel it induces is exactly k(x,y) = Σⱼ φⱼ(x)φⱼ(y), PSD by
    * construction, so the MMD below is a true MMD for that kernel; with
    * random ω/b it would approximate the Gaussian kernel, but a
    * deterministic map is what lets an oracle replay every coordinate).
    * Pure Column algebra — no RNG state, no stored matrix. */
  def rffFeatures(vec: Column, numFeatures: Int, gamma: Double = 1.0,
      seed: Long = 42L, inputDim: Int = 64): Column = {
    require(numFeatures >= 1, s"numFeatures must be >= 1, got $numFeatures")
    require(inputDim >= 1, s"inputDim must be >= 1, got $inputDim")
    // the [[randomProject]] sign hash depends only on (i, j, seed) —
    // plan-time constants — so the matrix is EVALUATED HERE ONCE (the
    // Scala twin of the Column hash, bit-identical long arithmetic)
    // and shipped as a literal: the per-row work drops from D·dim
    // interpreted hash chains to D·dim multiply-adds. Vectors shorter
    // than inputDim use their own length (zip_with stops at the
    // shorter side exactly like the hash form did); vectors LONGER
    // than inputDim are truncated to their first inputDim coordinates
    // (previously the sign side ran out, zip_with null-padded, and the
    // null poisoned aggregate() into an all-NULL feature vector —
    // ADVICE r13).
    val scale = math.sqrt(numFeatures.toDouble)
    val m = 4294967295L
    val signs: Seq[Seq[Double]] = (0 until numFeatures).map { j =>
      (0 until inputDim).map { i =>
        val h1 = i.toLong * 2654435761L + j.toLong * 97L + seed
        val h2 = (((h1 >> 13) ^ h1) & m) * 40503L
        val h3 = (((h2 >> 11) ^ h2) & m) * 69069L
        val h4 = (h3 >> 9) ^ h3
        (1L - 2L * ((h4 >> 3) & 1L)).toDouble
      }
    }
    val lit2d = typedLit(signs)
    val effLen = least(size(vec), lit(inputDim))
    transform(sequence(lit(0), lit(numFeatures - 1)), j =>
      cos(lit(gamma) *
          (aggregate(
            zip_with(slice(vec, lit(1), effLen),
              slice(element_at(lit2d, (j + 1).cast("int")), lit(1), effLen),
              (v, s) => v.cast("double") * s),
            lit(0.0), (acc, x) => acc + x) / lit(scale)) +
          lit(2.0 * math.Pi / numFeatures) * j.cast("double")) *
        lit(math.sqrt(2.0 / numFeatures)))
  }

  /** Kernel two-sample drift between two embedding cohorts via the
    * random-feature MMD: MMD² = ‖mean_A φ(x) − mean_B φ(x)‖² over the
    * [[rffFeatures]] map — the KERNEL companion of [[energyCurve]]
    * (energy distance sees moments through pairwise Euclidean gaps;
    * the cos features register distribution shape that means and
    * covariances miss, e.g. a bimodal split with matched first two
    * moments). Zero when the cohorts coincide; grows with any
    * detectable shift under the induced kernel.
    *
    * Shape: NO pairwise anything — one in-scan feature map, one
    * posexplode to (feature, value) scalars (exchange volume D·n
    * scalars, partial-aggregated to D rows map-side), a D-row diff
    * rollup, 1 row out. The estimator is the V-statistic (plug-in
    * means); at corpus n the O(1/n) bias is far below reporting
    * precision. mmd2 is NULL when either cohort is empty. */
  def mmdRff(df: DataFrame, vecCol: String, inA: Column,
      numFeatures: Int = 64, gamma: Double = 1.0, seed: Long = 42L,
      dp: Int = 6): DataFrame = {
    // Filter NULL vectors BEFORE the feature map: transform over
    // sequence() always yields a non-null array (of nulls when vec is
    // NULL), so a __phi.isNotNull guard after the map never fires and
    // NULL-vector rows would inflate n_a/n_b while contributing
    // nothing to the feature means (ADVICE r13). The counts below must
    // mirror the rows actually entering the estimate.
    val base = df.where(inA.cast("boolean").isNotNull &&
        col(vecCol).isNotNull)
      .select(inA.cast("boolean").as("__a"),
        rffFeatures(col(vecCol), numFeatures, gamma, seed).as("__phi"))
    val pos = base.select(col("__a"),
      posexplode(col("__phi")).as(Seq("__pos", "__v")))
    val perPos = pos.groupBy("__pos").agg(
      avg(when(col("__a"), col("__v"))).as("__ma"),
      avg(when(!col("__a"), col("__v"))).as("__mb"))
    val counts = base.agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
    val ok = col("n_a") > 0 && col("n_b") > 0
    perPos.agg(sum((col("__ma") - col("__mb")) *
        (col("__ma") - col("__mb"))).as("__m2"))
      .crossJoin(broadcast(counts))
      .select(col("n_a"), col("n_b"),
        lit(numFeatures).as("d_features"),
        when(ok, round(col("__m2"), dp)).as("mmd2"))
  }

  /** Mean-pooled centroid vector per group (per-source / per-cluster
    * embedding aggregation): posexplode to (group, position, value),
    * average per position, reassemble ordered by position. Shuffles
    * carry scalar (group, pos, partial-avg) triples — never whole
    * vectors — and partial aggregation combines map-side, so the
    * exchange volume is groups × dim, independent of corpus size. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String,
      centroidCol: String = "centroid"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col(groupCol), col("__pos"))
      .agg(avg(col("__v")).as("__avg"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__avg")))),
        s => s.getField("__avg")).as(centroidCol))

  /** Symmetric int8 quantization: scale = 127 / max|v_i| (1.0 for an
    * all-zero vector), q_i = round(v_i · scale) ∈ [-127, 127]. Returns
    * struct(q array<int>, scale double) — at 100 TB the quantized corpus
    * is ~4× smaller on disk and in shuffle than float32, which is the
    * point: store/ship q + one scale per vector, dequantize on read.
    * Pure per-row Column algebra. */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, v => abs(v.cast("double"))))
    val scale = when(mx > 0.0, lit(127.0) / mx).otherwise(lit(1.0))
    struct(
      transform(vec, v => round(v.cast("double") * scale).cast("int")).as("q"),
      scale.as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: q_i / scale, as array<double>. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") / scale)

  /** Exact k-NN of each query vector against the corpus: broadcast the
    * (small) query set, score all corpus rows, per-query top-k.
    * O(|corpus| * |queries| * dim) compute, ZERO shuffles of the corpus —
    * the only exchange is the top-k window on (query, score), and
    * WindowGroupLimit keeps per-partition heaps of size k. */
  def bruteForceKnn(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      scoreDp: Int = 4): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol),
        round(GraftFunctions.cosineSim(col(vecCol), col(qvecCol)), scoreDp).as("cos"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-k most-similar corpus vectors carrying a DIFFERENT label — the
    * negatives that actually move a contrastive loss (easy negatives are
    * already far). Same scale shape as [[bruteForceKnn]]: anchors
    * broadcast, corpus scanned once with zero shuffles, per-anchor top-k
    * via WindowGroupLimit heaps; scores rounded to `scoreDp` BEFORE
    * ranking (with an id tie-break) so the ranking is deterministic
    * across engines. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchors: DataFrame, aidCol: String, avecCol: String,
      alabelCol: String, k: Int, scoreDp: Int = 4): DataFrame = {
    val scored = corpus.crossJoin(broadcast(anchors))
      .where(col(alabelCol) =!= col(labelCol))
      .select(col(aidCol), col(idCol),
        round(GraftFunctions.cosineSim(col(vecCol), col(avecCol)), scoreDp).as("cos"))
    val w = Window.partitionBy(col(aidCol))
      .orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The PRODUCTION IVF derivation the auto-switch above the pair
    * threshold uses — exposed so the oracle-visible recall anchor
    * (`sim_bitext_recall`) measures exactly the setting production
    * runs, with no copy to drift: √n cells (candidate work
    * n·nProbe·E|cell| = nProbe·√n·n — subquadratic because the probed
    * SHARE shrinks as n grows; an unclamped nLists/8 would probe a
    * constant fraction — a constant-factor saving, still quadratic),
    * probe count clamped to [4, 16]. At extreme n raise nProbe via the
    * explicit-params API if recall matters more than cost. */
  def bitextAnnParams(n: Long): (Int, Int) = {
    val nLists = math.max(16, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)
    (nLists, math.min(16, math.max(4, nLists / 8)))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    * CCMatrix/LASER recipe): score cross-lingual candidate pairs by
    * ratio margin
    *
    *   margin(x,y) = cos(x,y) / ((avgᵏ(x→Y) + avgᵏ(y→X)) / 2)
    *
    * where avgᵏ is the mean cosine of the k nearest neighbors in the
    * OTHER corpus — normalizing by neighborhood density kills the
    * hubness failure of raw-cosine mining. Candidates are each x's
    * k-NN in Y (the retrieve-then-margin recipe — the margin re-ranks
    * the retrieved neighborhood); each x keeps its best-margin
    * candidate with rounded-margin > `minMargin` (rounded comparisons
    * + id tie-breaks keep selection deterministic across engines).
    *
    * Scale shape (r16): the |X|·|Y| cosine matrix is scanned ONCE and
    * never stored. Each scored pair is emitted under both roles
    * (forward: grouped by xid; backward: grouped by yid — the cosine is
    * computed once, in the projection below the explode), so a single
    * window over (role, group-id) cuts BOTH direction top-k lists
    * map-side (WindowGroupLimit) in the same scan; r15 ran the cross
    * scan twice, once per direction
    * (bench_history/sf1_20260816_184059 measured the two-scan shape at
    * 82.8s under load). Shuffles only ever carry ≤ k·(ids·partitions)
    * cut rows, and the margin join touches k·|X| candidate rows.
    *
    * Above `annPairThreshold` candidate pairs (default 16M — sf0.1's
    * 1M-pair corpus stays exact, sf1's 100M-pair corpus switches) the
    * brute scan is replaced by IVF cell candidates
    * ([[marginBitextPairsAnn]], nLists ≈ √n, nProbe clamped) —
    * identical margin algebra downstream, subquadratic candidate cost;
    * pass `annPairThreshold = 0` to force the exact scan. Measured at
    * sf1 (20k vectors, idle box, start load 1.96): 19.2s vs 3.15s at
    * sf0.1 = 6.1× at 10× data
    * (bench_history/sf1_targeted_20260816_223833.json), vs 529.3s for
    * the r15 pre-rewrite shape and 82.8s post-rewrite-still-two-scans.
    * The id columns of the two sides must share a data type (they
    * interleave in one role-tagged stream). */
  def marginBitextPairs(xs: DataFrame, xidCol: String, xvecCol: String,
      ys: DataFrame, yidCol: String, yvecCol: String,
      k: Int, minMargin: Double, scoreDp: Int = 6,
      annPairThreshold: Long = 16L * 1000 * 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (annPairThreshold > 0) {
      val nx = xs.count(); val ny = ys.count()
      if (nx > 0 && ny > 0 && nx > annPairThreshold / ny) {
        val (nLists, nProbe) = bitextAnnParams(nx + ny)
        return marginBitextPairsAnn(xs, xidCol, xvecCol, ys, yidCol, yvecCol,
          k, minMargin, scoreDp, nLists = nLists, nProbe = nProbe)
      }
    }
    // the matrix scan's parallelism is the X side's partition count —
    // a source read of few parquet files would otherwise run |X|·|Y|
    // cosines on a handful of tasks (r15: the 2-file embeddings table
    // put sf1's 100M cosines on 2 tasks); a round-robin exchange of the
    // (small, pre-product) X rows is noise next to the scan it unlocks
    val xr = xs.repartition(
      xs.sparkSession.sessionState.conf.numShufflePartitions)
    val pairs = xr.crossJoin(broadcast(ys))
      .select(col(xidCol).as("xid"), col(yidCol).as("yid"),
        GraftFunctions.cosineSim(col(xvecCol), col(yvecCol)).as("cos"))
    cutAndMargin(doubleRoles(pairs), k, minMargin, scoreDp)
  }

  /** ANN variant of [[marginBitextPairs]] — the billion-vector shape:
    * candidates come from shared IVF cells instead of the full cross
    * scan. ONE coarse quantizer is trained over the union of both sides
    * (one bounded sampling job, seeded — [[Ivf.clusterAssign]]'s
    * protocol); every vector probes its `nProbe` nearest of `nLists`
    * cells and meets the OTHER side's members there, so both direction
    * candidate sets come from a single list-id EQUI-join
    * (≈ nProbe/nLists of the matrix, never all-pairs), and the margin
    * algebra downstream is byte-identical to the exact path. With
    * `nProbe = nLists` every cell is probed and the result equals the
    * exact scan (the structural anchor `sim_bitext_ann`'s oracle
    * leans on); recall/cost trades off via nProbe with no plan change. */
  def marginBitextPairsAnn(xs: DataFrame, xidCol: String, xvecCol: String,
      ys: DataFrame, yidCol: String, yvecCol: String,
      k: Int, minMargin: Double, scoreDp: Int = 6,
      nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 1.0, maxTrainRows: Int = 1 << 16): DataFrame =
    cutAndMargin(annCandidates(xs, xidCol, xvecCol, ys, yidCol, yvecCol,
      nLists, nProbe, seed, trainFraction, maxTrainRows), k, minMargin,
      scoreDp)

  /** The role-tagged ANN candidate stream behind [[marginBitextPairsAnn]]
    * — exposed (package-private) so PlanSpec can assert its shape: one
    * list-id EQUI-join, the only nested loop the nLists-row centroid
    * broadcast. */
  private[graft] def annCandidates(xs: DataFrame, xidCol: String,
      xvecCol: String, ys: DataFrame, yidCol: String, yvecCol: String,
      nLists: Int, nProbe: Int, seed: Long,
      trainFraction: Double, maxTrainRows: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in [1, nLists=$nLists], got $nProbe")
    val spark = xs.sparkSession
    val u = xs.select(lit(0).as("side"), col(xidCol).as("id"),
        col(xvecCol).as("vec"))
      .unionByName(ys.select(lit(1).as("side"), col(yidCol).as("id"),
        col(yvecCol).as("vec")))
    val sampled = Pq.collectSample(u, "vec", trainFraction, seed, maxTrainRows)
    val coarse = Pq.trainLocal(sampled, m = 1, ksub = nLists, seed = seed,
      maxIter = 5)
    // in-scan cell assignment; null / wrong-dimension vectors drop
    // (unsearchable — ivfKnn's null-cell contract)
    // the assignment scan feeds BOTH the probe side and the member side
    // of the candidate join (this IS the IVF index build: ids + vectors +
    // cell, tiny next to the pair work). The round-robin exchange gives
    // the probe scan its parallelism (the r15 2-file-source lesson), and
    // the pin after it shares one assignment between both sides: each
    // side re-reads the exchange's output, never the source.
    val assigned = GraftColumn.pinned(u.select(col("side"), col("id"), col("vec"),
        element_at(Pq.encode(col("vec"), coarse), 1).as("__list"))
      .where(col("__list").isNotNull)
      .repartition(spark.sessionState.conf.numShufflePartitions))
    // probe lists computed IN-SCAN (r17 — PqEncodeTop: the n nearest
    // cells per vector, bit-identical metric and tie-break to the
    // former crossJoin(centroids) + row_number probe rank). The old
    // shape materialized |vectors|·nLists rows through a window sort —
    // 90M rows at sf10 (200k vectors × 448 cells) for 3.2M probe rows
    // out, measured 217s for the sim_bitext row; this emits the
    // nProbe rows per vector directly.
    val probes = assigned.select(col("side").as("role"), col("id").as("gid"),
      col("vec").as("__pvec"),
      explode(Pq.encodeTop(col("vec"), coarse, nProbe)).as("__list"),
      // the side a probe wants to MEET — part of the join KEY (r17), so
      // the join only ever enumerates opposite-side pairs: the former
      // role =!= side post-filter made the merge enumerate BOTH sides'
      // members per cell and discard half (1.4B enumerated for 0.7B
      // kept at sf10)
      (lit(1) - col("side")).as("__pside"))
    // each pair meets at most once (the member side sits in exactly one
    // cell), so the equi-join needs no dedup; role 0 = x probing Y,
    // role 1 = y probing X — both directions from this one join
    probes.join(assigned.select(col("side").as("__pside"),
        col("id").as("oid"), col("vec"), col("__list")),
        Seq("__list", "__pside"))
      .select(col("role"), col("gid"), col("oid"),
        GraftFunctions.cosineSim(col("__pvec"), col("vec")).as("cos"))
  }

  /** Both-role stream of a scored-pairs frame: every (xid, yid, cos) row
    * once as (role 0, xid, yid) and once as (role 1, yid, xid) — the
    * cosine is referenced, not recomputed (it is a named column below
    * the explode, evaluated once per pair in the same codegen stage). */
  private[graft] def doubleRoles(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(lit(0).as("role"), col("xid").as("gid"),
          col("yid").as("oid"), col("cos")),
        struct(lit(1).as("role"), col("yid").as("gid"),
          col("xid").as("oid"), col("cos")))).as("e"))
      .select(col("e.role").as("role"), col("e.gid").as("gid"),
        col("e.oid").as("oid"), col("e.cos").as("cos"))

  /** Per-(role, id) top-k cut of a role-tagged candidate stream + the
    * margin selection. r17: the cut is a bounded TOP-K AGGREGATE
    * ([[TopKByScoreAgg]]), not a Sort→Window rank filter — the window
    * form sorted the ENTIRE candidate stream per partition before its
    * group-limit could cut (at sf10 the ANN stream is ~1.4B rows:
    * measured ~3.4 µs/row of sort+spill; the sim_bitext row read 150s),
    * where the aggregate keeps a k-bounded buffer per (role, gid),
    * partial-aggregates map-side (the exchange carries ≤ k rows per
    * group per partition) and never sorts anything but k-element
    * buffers. The kept set is bit-identical: the ordering struct's
    * score field is the SAME round(cos, scoreDp) expression the window
    * ordered by, ids are unique per group (a pair meets at most once),
    * and the aggregate's (score DESC NULLS LAST, id ASC) comparator is
    * the window's orderBy exactly (KernelCodegenSpec-style parity in
    * PipelineSpec's full-probe bit-equality + PlanSpec's shape pin).
    * The margin step pins the cut after its aggregate exchange, so the
    * candidate set and both neighborhood averages re-read only the
    * ≤ k·(|X|+|Y|) cut rows, never the candidate stream. Exposed for
    * the PlanSpec single-scan assert. */
  private[graft] def bitextCut(doubled: DataFrame, k: Int,
      scoreDp: Int): DataFrame = {
    val entry = struct(round(col("cos"), scoreDp).as("r6"),
      col("oid"), col("cos"))
    doubled.groupBy(col("role"), col("gid"))
      .agg(TopK.topKByScore(entry, k).as("__tk"))
      .select(col("role"), col("gid"), explode(col("__tk")).as("__e"))
      .select(col("role"), col("gid"), col("__e.oid").as("oid"),
        col("__e.cos").as("cos"))
  }

  private def cutAndMargin(doubled: DataFrame, k: Int, minMargin: Double,
      scoreDp: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // ObjectHashAggregate falls back to SORT-BASED aggregation after
    // 128 distinct keys per task (its default guards unbounded buffers
    // like collect_list) — which would re-introduce exactly the
    // full-stream sort the top-k aggregate exists to avoid. The top-k
    // buffers here are k-bounded (~a few hundred bytes per group), so
    // up to ~1M groups per task is a bounded ~100s-of-MB, not a §5
    // hazard. The raised threshold is part of the cut's pinned plan
    // only: the session conf is never written.
    val cut = GraftColumn.pinned(bitextCut(doubled, k, scoreDp),
      Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        (1 << 20).toString))
    val fwd = cut.where(col("role") === 0)
      .select(col("gid").as("xid"), col("oid").as("yid"), col("cos"))
    val ax = fwd.groupBy("xid").agg(avg("cos").as("ax"))
    val ay = cut.where(col("role") === 1)
      .groupBy(col("gid").as("yid")).agg(avg("cos").as("ay"))
    val best = Window.partitionBy(col("xid"))
      .orderBy(round(col("margin"), scoreDp).desc, col("yid"))
    fwd.join(ax, "xid").join(ay, "yid")
      .withColumn("margin", col("cos") / ((col("ax") + col("ay")) / 2))
      .withColumn("__rk", row_number().over(best))
      .where(col("__rk") === 1 && round(col("margin"), scoreDp) > minMargin)
      .select(col("xid"), col("yid"), col("margin"))
  }

  // Bucket ids come from the native CosineLshBuckets expression
  // (GraftFunctions.cosineLshBuckets): seeded Rademacher sign matrix
  // derived on executors, all tables in one pass, plan size independent
  // of dimension. The per-plane HOF composition measured ~10× slower
  // (r2 in-session) and was removed with its last caller.

  /** SemDedup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into k-means cells, then
    * screen cosine similarity only WITHIN each cell. Returns the ids to
    * DROP — a row is dropped iff some SMALLER id in the same cell has
    * `round(cos, scoreDp) >= minCos` (keep-min-id, deterministic, and
    * every drop is certified by a real high-similarity neighbour, so
    * there are no false drops by construction; recall is what the cell
    * partitioning trades away, as in the paper).
    *
    * Scale shape — the pair arithmetic is BOUNDED, not just equi-joined:
    *
    *   1. Exact replicas collapse FIRST (group by the vector itself —
    *      exact, no digest collisions): the non-minimal ids of each
    *      identical-vector group are dropped outright (their cos is the
    *      self-similarity, computed ONCE per distinct vector, never per
    *      pair), and only the one representative enters the cell join.
    *      A degenerate corpus mass of identical embeddings therefore
    *      costs O(n), not O(n²) — the same replica-collapse discipline
    *      as `minhashNearDupPairs`.
    *   2. Centroid training is ONE bounded sampling job
    *      ([[Ivf.clusterAssign]] — cost independent of corpus size);
    *      assignment is in-scan; choose `nClusters` ∝ corpus size (the
    *      paper uses n/10⁴) to hold E|cell| constant.
    *   3. Cells larger than `maxCell` are SUB-SPLIT by a secondary
    *      vector hash into ⌈|cell|/maxCell⌉ sub-cells (the `annSelfJoin
    *      maxBucket` precedent, but splitting instead of dropping), so
    *      per-group pair work stays O(maxCell²) and TOTAL work
    *      O(maxCell·n) even when k-means degenerates into one cell.
    *      What the split trades is recall between DISTINCT near-dup
    *      vectors that land in different sub-cells — the same recall
    *      currency the cell partitioning itself already spends; exact
    *      replicas are immune (caught by step 1). The candidate join is
    *      an EQUI-join on (cell, sub-cell). Nothing is all-pairs. */
  def semDedupDropIds(corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, minCos: Double, seed: Long = 42L,
      maxTrainRows: Int = 1 << 16, scoreDp: Int = 4,
      maxCell: Int = 4096): DataFrame = {
    val marked = replicaMarked(corpus, idCol, vecCol, minCos, scoreDp)
    val replicaDrops = marked
      .where(col("__selfdup") && col("__id") =!= col("__rep"))
      .select(col("__id"))
    val cells = cellsOfMarked(marked, vecCol, nClusters, seed, maxTrainRows,
      maxCell)
    val a = cells.select(col("cluster"), col("__sub"),
      col("__id").as("__id_a"), col("__vec").as("__vec_a"))
    val b = cells.select(col("cluster"), col("__sub"),
      col("__id").as("__id_b"), col("__vec").as("__vec_b"))
    val pairDrops = a.join(b, Seq("cluster", "__sub"))
      .where(col("__id_a") < col("__id_b"))
      .where(round(GraftFunctions.cosineSim(col("__vec_a"), col("__vec_b")),
        scoreDp) >= minCos)
      .select(col("__id_b"))
    replicaDrops.union(pairDrops).distinct().select(col("__id").as(idCol))
  }

  /** Replica-collapse phase of [[semDedupDropIds]]: tags every row with
    * the minimal id sharing its EXACT vector (`__rep`, via a window
    * partitioned by the vector value — exact equality, no digest) and
    * whether self-similarity clears the threshold (`__selfdup`, one
    * cosine per distinct vector). The window's LEADING partition key is
    * `xxhash64(vec)` with the full vector second: the exchange and the
    * in-partition sort compare one long and fall back to the 64-float
    * array only on hash ties, so exactness is untouched while the sort
    * stops paying per-row array comparisons. (The r12 `sim_semdedup`
    * 4.6→6.3s bench drift itself adjudicated as box noise: r12 code on
    * an idle r13 box ran 5.32s, and the query's floor is its own
    * brute-force truth pass — operator 1.2s warm vs 3.1-3.7s for the
    * 2M-pair verdict join, r13 in-session profile.) */
  private def replicaMarked(corpus: DataFrame, idCol: String,
      vecCol: String, minCos: Double, scoreDp: Int): DataFrame =
    corpus.select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .withColumn("__rep", min(col("__id")).over(
        Window.partitionBy(xxhash64(col("__vec")), col("__vec"))))
      .withColumn("__selfdup",
        round(GraftFunctions.cosineSim(col("__vec"), col("__vec")),
          scoreDp) >= minCos)

  /** Cell (and dense-cell SUB-cell) assignment of the replica
    * representatives — the audit surface for the O(maxCell·n) pair
    * bound: candidate pairs are generated only within (cluster, __sub)
    * groups, so Σ n·(n−1)/2 over this frame's group sizes IS the pair
    * count the join arithmetic pays. Exposed for specs/audits. */
  def semDedupCells(corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, minCos: Double, seed: Long = 42L,
      maxTrainRows: Int = 1 << 16, scoreDp: Int = 4,
      maxCell: Int = 4096): DataFrame =
    cellsOfMarked(replicaMarked(corpus, idCol, vecCol, minCos, scoreDp),
      vecCol, nClusters, seed, maxTrainRows, maxCell)

  private def cellsOfMarked(marked: DataFrame, vecCol: String,
      nClusters: Int, seed: Long, maxTrainRows: Int,
      maxCell: Int): DataFrame = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    val reps = marked
      .where(!col("__selfdup") || col("__id") === col("__rep"))
      .select(col("__id"), col("__vec").as(vecCol))
    Ivf.clusterAssign(reps, vecCol, nClusters, seed = seed,
        maxTrainRows = maxTrainRows)
      .withColumn("__cn", count(lit(1L)).over(
        Window.partitionBy(col("cluster"))))
      .withColumn("__sub",
        when(col("__cn") <= maxCell, lit(0L))
          .otherwise(pmod(xxhash64(col(vecCol)),
            ceil(col("__cn").cast("double") / maxCell).cast("long"))))
      .select(col("cluster"), col("__sub"), col("__id"),
        col(vecCol).as("__vec"))
  }

  /** The SemDedup survivors: `corpus` minus [[semDedupDropIds]], via a
    * single anti-join on the id. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, minCos: Double, seed: Long = 42L,
      maxTrainRows: Int = 1 << 16, scoreDp: Int = 4,
      maxCell: Int = 4096): DataFrame =
    corpus.join(
      semDedupDropIds(corpus, idCol, vecCol, nClusters, minCos, seed,
        maxTrainRows, scoreDp, maxCell),
      Seq(idCol), "left_anti")

  /** Dimension-prefix ENERGY curve: for each prefix length d′, the
    * corpus-average share of a vector's squared norm carried by its
    * first d′ coordinates — the table to read before truncating
    * embeddings (Matryoshka-style) for a cheaper index: a prefix that
    * holds 95%+ energy preserves cosine geometry to first order.
    * Zero-norm/NULL vectors are excluded (no energy to attribute).
    *
    * ONE scan: every prefix is a fused map-side-partial aggregate
    * column; the bounded per-prefix rows assemble from the 1-row
    * result. */
  def energyCurve(corpus: DataFrame, vecCol: String, prefixes: Seq[Int],
      dp: Int = 6): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ >= 1),
      "prefixes must be >= 1")
    val full = dot(col(vecCol), col(vecCol))
    val aggs = prefixes.map { d =>
      avg(when(full > 0.0,
        dot(slice(col(vecCol), 1, d), slice(col(vecCol), 1, d)) / full))
        .as(s"__e$d")
    } :+ sum(when(full > 0.0, 1L).otherwise(0L)).as("__n")
    val one = corpus.agg(aggs.head, aggs.tail: _*)
    prefixes.map(d =>
      one.select(lit(d).as("prefix"), col("__n").as("n_vectors"),
        round(col(s"__e$d"), dp).as("avg_energy")))
      .reduce(_ unionByName _).orderBy("prefix")
  }

  /** Approximate NN self-join via multi-table hyperplane LSH: `numTables`
    * independent hash tables of `numPlanes` bits each; vectors sharing a
    * (table, bucket) key are candidates, deduplicated, then ranked by
    * exact cosine. Recall ≈ 1-(1-p^numPlanes)^numTables with
    * p = 1 - θ/π — tune tables up / planes down for higher recall.
    * Shuffles carry only (id, table, bucket) triples and candidate id
    * pairs — never vector pairs; vectors are joined back once per
    * distinct candidate pair.
    *
    * Skew bound: buckets holding more than `maxBucket` vectors are
    * DROPPED from candidate generation (a dense bucket is a
    * low-information hash — it would contribute O(n²) pairs while mostly
    * pairing dissimilar vectors; neighbors it contained still meet in
    * their other `numTables-1` tables). This caps per-bucket work at
    * O(maxBucket²) no matter how skewed the data.
    *
    * Two result modes:
    *   - rank mode (default): per-id top-`k` by cosine, with a `rank`
    *     column — the kNN-style result;
    *   - threshold mode (`minCos = Some(t)`): ALL candidate pairs with
    *     cos >= t, no rank cap — the DEDUP-style result. A near-dup
    *     semantic must use this: a vector with more than k near-identical
    *     neighbours would silently lose pairs beyond rank k under the
    *     rank cap. */
  def annSelfJoin(corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, k: Int, numTables: Int = 8,
      seed: Long = 42L, maxBucket: Int = 256,
      minCos: Option[Double] = None): DataFrame = {
    val bucketed = corpus
      .select(col(idCol), posexplode(
        GraftFunctions.cosineLshBuckets(col(vecCol), numPlanes, numTables, seed)))
      .toDF(idCol, "tbl", "bucket")
    val capped = bucketed
      .withColumn("bucket_n", count(lit(1L)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val cands = capped.toDF("id_a", "tbl", "bucket")
      .join(capped.toDF("id_b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = corpus.select(col(idCol), col(vecCol))
    val scored = cands
      .join(vecs.toDF("id_a", "vec_a"), "id_a")
      .join(vecs.toDF("id_b", "vec_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("vec_a"), col("vec_b")).as("cos"))
    minCos match {
      case Some(t) => scored.where(col("cos") >= t)
      case None =>
        val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    }
  }

  /** Davies–Bouldin cluster-quality table (Davies & Bouldin, IEEE TPAMI
    * 1979) over an EXISTING assignment column (k-means cells, SemDedup
    * cells, topic tags — any partition whose tightness/separation needs
    * auditing). Per cluster i: member count, scatter sᵢ (mean Euclidean
    * member→centroid distance) and the DB ratio max_{j≠i} (sᵢ+sⱼ)/dᵢⱼ
    * over centroid distances dᵢⱼ; the index itself is the average of
    * `worst_ratio` (lower = tighter/better-separated).
    *
    * Scale shape: centroids are ONE scan with k·d exchange
    * ([[groupCentroids]]); scatter is one more scan against the
    * BROADCAST k-row centroid table; the (i, j) ratio frame is the k²
    * centroid pairing — bounded by cluster count, never by corpus.
    * Coincident centroids (dᵢⱼ = 0) are excluded from the max (the
    * ratio is undefined; a NULL `worst_ratio` means every other
    * centroid coincides). Callers filter null / wrong-dimension
    * vectors first — a ragged vector would null the distance algebra. */
  def daviesBouldin(df: DataFrame, vecCol: String,
      clusterCol: String): DataFrame = {
    val cent = groupCentroids(df, clusterCol, vecCol, "__c")
    val scat = df.join(broadcast(cent), clusterCol)
      .select(col(clusterCol), sqrt(Ivf.sqDist(col(vecCol), col("__c"))).as("__d"))
      .groupBy(clusterCol)
      .agg(count(lit(1L)).as("n"), avg(col("__d")).as("scatter"))
    val pairs = cent.select(col(clusterCol).as("__ca"), col("__c").as("__va"))
      .join(cent.select(col(clusterCol).as("__cb"), col("__c").as("__vb")),
        col("__ca") =!= col("__cb"))
      .select(col("__ca"), col("__cb"),
        sqrt(Ivf.sqDist(col("__va"), col("__vb"))).as("__cd"))
    val worst = pairs
      .join(scat.select(col(clusterCol).as("__ca"), col("scatter").as("__sa")), "__ca")
      .join(scat.select(col(clusterCol).as("__cb"), col("scatter").as("__sb")), "__cb")
      .select(col("__ca"),
        when(col("__cd") > 0.0, (col("__sa") + col("__sb")) / col("__cd")).as("__r"))
      .groupBy(col("__ca")).agg(max(col("__r")).as("worst_ratio"))
    scat.join(worst, col(clusterCol) === col("__ca"), "left")
      .select(col(clusterCol), col("n"), col("scatter"), col("worst_ratio"))
  }

  /** Simplified (centroid) silhouette per cluster (Hruschka et al.
    * 2004 — the O(n·k) surrogate of Rousseeuw 1987's O(n²) pairwise
    * silhouette, the only form that scales): per point, a = distance
    * to its OWN centroid, b = the closest OTHER centroid, and
    *
    *   s = (b − a) / max(a, b)      (0 when a = b = 0)
    *
    * averaged per cluster. Returns (cluster, n, avg_silhouette)
    * ordered by cluster; with one cluster there is no "other" centroid
    * and the average is NULL.
    *
    * Scale shape: one broadcast of the k-row centroid table against
    * the corpus (n·k rows through ONE (id, cluster) rollup — k is the
    * cluster count, bounded by contract), then a cluster-sized rollup.
    * Nothing is pairwise in n. */
  def simplifiedSilhouette(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String): DataFrame = {
    val cent = groupCentroids(df, clusterCol, vecCol, "__c")
      .select(col(clusterCol).as("__oc"), col("__c"))
    val p = df.select(col(idCol).as("__id"), col(clusterCol),
      col(vecCol).as("__v"))
    val ab = p.join(broadcast(cent))
      .select(col("__id"), col(clusterCol),
        sqrt(Ivf.sqDist(col("__v"), col("__c"))).as("__d"),
        (col(clusterCol) === col("__oc")).as("__own"))
      .groupBy("__id", clusterCol)
      .agg(min(when(col("__own"), col("__d"))).as("__a"),
        min(when(!col("__own"), col("__d"))).as("__b"))
    ab.select(col(clusterCol),
        when(col("__b").isNull, lit(null).cast("double"))
          .when(greatest(col("__a"), col("__b")) > 0.0,
            (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)).as("__s"))
      .groupBy(clusterCol)
      .agg(count(lit(1L)).as("n"), avg(col("__s")).as("avg_silhouette"))
      .orderBy(clusterCol)
  }

  /** Calinski–Harabasz index (Caliński & Harabasz 1974): the
    * variance-ratio cluster criterion
    *
    *   CH = [SSB/(k−1)] / [SSW/(n−k)]
    *
    * computed ENTIRELY from per-cluster moments — one posexplode scan
    * to a (cluster, slot) rollup of (n, Σx, Σx²), then
    * SSW = Σ_j (Σ‖x‖²_j − n_j‖c_j‖²) and
    * SSB = Σ_j n_j‖c_j‖² − n‖c̄‖² by the usual decomposition; no join
    * touches the corpus and no distance pass runs at all (the
    * [[graft.functions.Pca]] flat-slot discipline). One row:
    * (k, n, ssb, ssw, ch); CH is NULL when k < 2, n ≤ k, or SSW = 0.
    * Callers filter null / wrong-dimension vectors first. */
  def calinskiHarabasz(df: DataFrame, vecCol: String, clusterCol: String,
      dp: Int = 6): DataFrame = {
    val slots = df.select(col(clusterCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__x0")))
      .select(col("__g"), col("__i"), col("__x0").cast("double").as("__x"))
      .groupBy("__g", "__i")
      .agg(count(lit(1L)).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x") * col("__x")).as("__ss"))
    val perCluster = slots.groupBy("__g").agg(
      max(col("__n")).as("__nj"),
      sum(col("__ss")).as("__ssq"),
      sum(col("__s") * col("__s") / col("__n")).as("__njc2"))
    // global per-slot sums for ‖c̄‖²: roll the slot sums up across
    // clusters (k·d rows — bounded)
    val globalC = slots.groupBy("__i")
      .agg(sum(col("__s")).as("__ts"), sum(col("__n")).as("__tn"))
      .agg(coalesce(sum(col("__ts") * col("__ts") / col("__tn")), lit(0.0))
        .as("__nc2"))
    val tot = perCluster.agg(
      count(lit(1L)).as("k"),
      sum(col("__nj")).as("n"),
      coalesce(sum(col("__ssq") - col("__njc2")), lit(0.0)).as("__ssw"),
      coalesce(sum(col("__njc2")), lit(0.0)).as("__sbpart"))
    val ssb = col("__sbpart") - col("__nc2")
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val ch = (ssb / (kD - 1)) / (col("__ssw") / (nD - kD))
    tot.crossJoin(broadcast(globalC)).select(
      col("k"), col("n"),
      round(ssb, dp).as("ssb"), round(col("__ssw"), dp).as("ssw"),
      when(col("k") < 2 || col("n") <= col("k") || col("__ssw") <= 0.0,
        lit(null).cast("double"))
        .otherwise(round(ch, dp)).as("ch"))
  }

  /** Simplified Hopkins clusterability statistic (Hopkins & Skellam
    * 1954; the plain-distance form): BEFORE spending a clustering run,
    * "does this embedding space have structure at all?"
    *
    *   H = Σᵤ / (Σᵤ + Σ_w)
    *
    * where u_j are nearest-neighbor distances from m SYNTHETIC points
    * uniform in the per-dimension bounding box to the data, and w_j
    * are NN distances from m real probes to the REST of the data.
    * H ≈ 0.5 → indistinguishable from uniform noise; → 1 → clustered.
    *
    * Zero randomness: real probes are the m smallest md5(id) keys and
    * every synthetic coordinate is min_k + frac(md5("j:k"))·range_k
    * with frac = the first 6 hex digits / 16⁶ (the Poisson-bootstrap
    * md5-fraction idiom) — the whole construction replays identically
    * in SQL, so the oracle recomputes H outright.
    *
    * Scale shape: one per-dimension min/max rollup (d-row table,
    * driver-collected — d and m bounded by contract), one
    * md5-bottom-m TakeOrdered for real probes, then ONE broadcast of
    * the 2m-probe table against the corpus with a probe-keyed min
    * rollup (n·2m rows through a map-side partial min — the
    * simplifiedSilhouette n·k pattern). No pairwise n² anywhere. */
  def hopkinsStatistic(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, dp: Int = 6): DataFrame = {
    require(m >= 1 && m <= 128, s"m must be in [1, 128], got $m")
    val spark = df.sparkSession
    import spark.implicits._
    // bounds, probes and the NN scan each re-read this narrow scan
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"))
      .where(col("__id").isNotNull && col("__v").isNotNull)
    // per-dimension bounding box: d-row rollup, driver-collected
    val bounds = base
      .select(posexplode(col("__v")).as(Seq("__k", "__x")))
      .groupBy("__k")
      .agg(min(col("__x").cast("double")).as("__lo"),
        max(col("__x").cast("double")).as("__hi"))
      .orderBy("__k").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val d = bounds.length
    // m real probes: the m smallest md5(id) hex keys (uniform,
    // replayable); collected — m <= 128 by contract
    val real = base
      .withColumn("__h", md5(col("__id").cast("string")))
      .orderBy(col("__h"), col("__id")).limit(m)
      .select(col("__id"), col("__v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // m synthetic probes: md5("j:k") fraction scaled into the box
    def frac(s: String): Double =
      java.lang.Long.parseLong(java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString, 16) / 16777216.0
    val synth = (0 until m).map { j =>
      (j.toLong, (0 until d).map { k =>
        val (lo, hi) = bounds(k)
        (lo + frac(s"$j:$k") * (hi - lo)).toFloat
      })
    }
    val probes =
      real.toSeq.map { case (id, v) => (id, v, true) }
        .union(synth.map { case (j, v) => (j, v, false) })
        .toDF("__pid", "__pv", "__real")
    val nn = base.join(broadcast(probes),
        // a real probe must not count itself as its own neighbor
        !col("__real") || col("__id") =!= col("__pid"))
      .groupBy(col("__pid"), col("__real"))
      .agg(min(sqrt(Ivf.sqDist(col("__v"), col("__pv")))).as("__d"))
    nn.agg(
        sum(when(!col("__real"), col("__d"))).as("__su"),
        sum(when(col("__real"), col("__d"))).as("__sw"),
        sum(when(col("__real"), 1L).otherwise(0L)).as("__mr"))
      .select(col("__mr").as("m"),
        round(col("__su"), dp).as("sum_u"),
        round(col("__sw"), dp).as("sum_w"),
        when(col("__su") + col("__sw") > 0.0,
          round(col("__su") / (col("__su") + col("__sw")), dp)).as("h"))
  }

  /** k-center greedy selection (Gonzalez 1985; Sener & Savarese, ICLR
    * 2018 use it as the coreset rule for data selection): pick the
    * point FARTHEST from everything picked so far, k times — the
    * classic 2-approximation of the k-center cover, and the standard
    * diversity-sampling rule for embedding-space curation (grab the
    * most novel example next, not another near-duplicate of what you
    * have). Deterministic by construction: the seed is the max-L2-norm
    * point and every argmax breaks ties on the smallest id — no rand,
    * replayable across engines.
    *
    * Returns (sel_rank 1..k, vec_id, radius): `radius` is the selected
    * point's distance to the previously chosen set — the k-center
    * coverage radius sequence, NON-INCREASING by construction (each
    * pick is the max of a pointwise-shrinking min-distance field),
    * which makes a free in-row oracle invariant.
    *
    * Scale shape: the bounded-driver-iteration discipline
    * ([[graft.ops.Analytics.logisticRegressionGD]] precedent) — k ≤ 64
    * by contract, each round is ONE distance scan against the SINGLE
    * newest center (the running min-distance column carries all older
    * centers), one TakeOrdered(1), and a 1-row collect. Total k scans,
    * O(k·n·d) work, never O(n²). Each round's frame is repartitioned on
    * the id and pinned after that exchange ([[pinnedRound]]), so a
    * round reads only the previous round's shuffle output and the
    * result recomputes from lineage after executor loss. The other form
    * measured, a stateless round that rescans a pinned input and folds
    * every earlier center into one `least`, does O(k²·n·d) work: on
    * the 2,000 64-d sf0.1 embeddings (local[4], warm mean of 3 runs in
    * each of 3 JVMs) it took 0.70–0.86 s against this form's
    * 0.98–1.24 s at k = 4, 1.30 s against 1.00–1.07 s at k = 8, and
    * 11.9–13.5 s against 3.5 s at k = 32. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String, k: Int,
      dp: Int = 6): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"))
      .where(col("__id").isNotNull && col("__v").isNotNull)
    val seed = base
      .select(col("__id"), col("__v"), l2Norm(col("__v")).as("__n"))
      .orderBy(col("__n").desc, col("__id")).limit(1)
      .collect() // 1 row by construction
    if (seed.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("sel_rank", "vec_id", "radius")
    val seedId = seed(0).getLong(0)
    var picks = Vector[(Int, Long, Option[Double])]((1, seedId, None))
    var cur = base.where(col("__id") =!= seedId)
      .withColumn("__mind", Ivf.sqDist(col("__v"), typedLit(seed(0).getSeq[Float](1))))
    var exhausted = false
    while (picks.length < k && !exhausted) {
      cur = pinnedRound(cur)
      val top = cur.orderBy(col("__mind").desc, col("__id")).limit(1)
        .collect() // 1 row per round, k <= 64 rounds by contract
      if (top.isEmpty) exhausted = true
      else {
        val cid = top(0).getLong(0)
        picks :+= ((picks.length + 1, cid, Some(math.sqrt(top(0).getDouble(2)))))
        cur = cur.where(col("__id") =!= cid)
          .withColumn("__mind",
            least(col("__mind"), Ivf.sqDist(col("__v"), typedLit(top(0).getSeq[Float](1)))))
      }
    }
    picks.toDF("sel_rank", "vec_id", "radius")
      .select(col("sel_rank"), col("vec_id"),
        round(col("radius"), dp).as("radius"))
      .orderBy("sel_rank")
  }

  /** One greedy round's frame, repartitioned on `__id` and pinned after
    * that exchange: the next round reads this round's shuffle output and
    * recomputes only its own narrow step, never the chain of earlier
    * rounds (a pin with no exchange of its own would replay them all). */
  private def pinnedRound(df: DataFrame): DataFrame =
    GraftColumn.pinned(df.repartition(col("__id")))

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR 1998): greedy top-k trading relevance against redundancy —
    * each round picks argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)
    * (ties by id). THE diversification rule for retrieval results and
    * diverse exemplar picks: plain top-k by relevance returns k
    * near-duplicates of the best hit; MMR's second term charges each
    * candidate for its similarity to what is already selected.
    * [[kCenterGreedy]] is the pure-coverage corner (λ → 0 with
    * distance in place of similarity); this is the tunable middle.
    *
    * Determinism contract: the per-pick max-similarity is ROUNDED at
    * 6dp before scoring (the sim_knn rank-agreement discipline) and
    * (1−λ) is computed in exact decimal — FP `1 - 0.7` is one ulp off
    * DuckDB's `0.3` literal, which would let a knife-edge argmax
    * diverge between engines.
    *
    * Shape: the [[kCenterGreedy]] contract — k ≤ 64 bounded-driver
    * rounds, each ONE scan against the SINGLE newest pick (the running
    * max-sim column carries older picks, and each round's frame is
    * pinned after an exchange on the id, [[pinnedRound]]), one
    * TakeOrdered(1), one 1-row collect. O(k·n·d), never O(n²). The
    * stateless round that folds every earlier pick into one `greatest`
    * measured as in [[kCenterGreedy]]: 0.48–0.55 s against this form's
    * 0.62–0.68 s at k = 4, 5.1 s against 2.7 s at k = 32. Returns
    * (sel_rank, id, rel, score) — the seed's score is λ·rel (empty
    * selected set ⇒ zero redundancy term). */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
      relCol: Column, k: Int, lambda: Double = 0.7,
      dp: Int = 6): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val oneMinus = (BigDecimal(1) - BigDecimal(lambda.toString)).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"), relCol.cast("double").as("__rel"))
      .where(col("__id").isNotNull && col("__v").isNotNull &&
        col("__rel").isNotNull)
    val seed = base.orderBy(col("__rel").desc, col("__id")).limit(1)
      .collect() // 1 row by construction
    if (seed.isEmpty)
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("sel_rank", "id", "rel", "score")
    val seedId = seed(0).getLong(0)
    var picks = Vector[(Int, Long, Double, Double)](
      (1, seedId, seed(0).getDouble(2), lambda * seed(0).getDouble(2)))
    def simTo(vec: Seq[Float]) =
      round(GraftFunctions.cosineSim(col("__v"), typedLit(vec)), 6)
    var cur = base.where(col("__id") =!= seedId)
      .withColumn("__ms", simTo(seed(0).getSeq[Float](1)))
    var exhausted = false
    while (picks.length < k && !exhausted) {
      cur = pinnedRound(cur)
      val top = cur
        .withColumn("__sc",
          lit(lambda) * col("__rel") - lit(oneMinus) * col("__ms"))
        .orderBy(col("__sc").desc, col("__id")).limit(1)
        .collect() // 1 row per round, k <= 64 rounds by contract
      if (top.isEmpty) exhausted = true
      else {
        val cid = top(0).getLong(0)
        picks :+= ((picks.length + 1, cid, top(0).getDouble(2),
          top(0).getAs[Double]("__sc")))
        cur = cur.where(col("__id") =!= cid)
          .withColumn("__ms",
            greatest(col("__ms"), simTo(top(0).getSeq[Float](1))))
      }
    }
    picks.toDF("sel_rank", "id", "rel", "score")
      .select(col("sel_rank"), col("id"), round(col("rel"), dp).as("rel"),
        round(col("score"), dp).as("score"))
      .orderBy("sel_rank")
  }
}
