package graft.functions

import org.apache.spark.sql.{DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Near-dup pair → cluster resolution: the step between "found the
  * similar pairs" and "dropped the right documents". Every pair operator
  * in [[Dedup]] emits an edge list; deduplicating a corpus needs the
  * connected components of that graph (transitive closure) and one
  * canonical keep-id per component.
  *
  * Algorithm: iterative min-label propagation with pointer doubling
  * (label(v) ← label(label(v)) each round — the shortcutting idea behind
  * the O(log n)-round MapReduce CC algorithms, Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14). Plain propagation needs
  * O(diameter) rounds — a pathological chain of 10⁶ near-dup docs would
  * need 10⁶ shuffles; with doubling the reached distance compounds
  * geometrically, so rounds stay logarithmic.
  *
  * Scale shape: every round is two hash-partitioned equi-joins and one
  * partial-aggregated min — all keyed on node id, nothing driver-side.
  * State is O(|nodes in pairs|), NOT O(corpus): only documents that
  * appear in some pair enter the graph — at 100 TB the pair graph is
  * orders of magnitude smaller than the corpus.
  *
  * Lineage: the result is one plan that Spark recomputes from lineage
  * after losing an executor; the edge input, each round's self-joined
  * intermediate and each batch's labels are shared through
  * `GraftColumn.pinned` placed after their exchange, which also keeps
  * a round's plan flat. Pinning runs those shuffle-map stages when the
  * loop runs, and the result keeps every round's shuffle files
  * referenced until it is dropped; the rounds are logarithmic in the
  * component diameter.
  */
object Clusters {

  /** (id, component) for every node appearing in `pairs`; `component` is
    * the MINIMUM id reachable through the pair graph — the conventional
    * canonical keep-id. Throws if ~`maxIter` propagate+compress ROUNDS
    * (run as two-round batches) do not converge — the doubling bound
    * makes that a data-scale red flag, not a tuning knob: the default
    * 25 rounds cover components of diameter far beyond 2^20.
    *
    * SIZE GATE: a pair graph at or below `localEdgeLimit` edges (default
    * 2^20) is resolved by an in-driver union-find over the rows of ONE
    * incremental `take` — the same bounded-driver-artifact protocol as
    * the PQ training sample — instead of the 6+ join jobs the
    * distributed loop costs at minimum. This is the common case by
    * construction: dedup pair lists are output-sensitive and orders of
    * magnitude smaller than the corpus. Driver footprint at the default
    * limit: edge array + sorted node-id array + int parent array —
    * ~60 MB transient, primitive arrays only. The probe `take` reads
    * partitions incrementally and stops one row past the limit, so an
    * over-limit graph costs one short job before the doubling loop runs
    * unchanged (`localEdgeLimit = 0` — which the scale bench uses to
    * keep its distributed-path measurement honest — skips the probe
    * entirely; values ≥ Int.MaxValue are rejected, a collect that size
    * could not succeed anyway). Both paths produce identical labels
    * (min reachable id).
    *
    * Distributed round cost: the shuffle stages of the fused
    * propagate+compress plan (the intra-round intermediate is pinned so
    * its self-join computes it once) plus a 1-row aggregate over the
    * pinned labels for the convergence check. The check exploits
    * monotonicity instead of a join: labels only ever DECREASE, so any
    * change strictly lowers sum(lbl) — equal decimal sums across rounds
    * ⟺ converged. The first propagate round is fused into
    * initialization (lbl₀ = min(id, min neighbor)), saving a full
    * round. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localEdgeLimit: Long = 1L << 20): DataFrame =
    connectedComponentsStats(pairs, aCol, bCol, maxIter, localEdgeLimit)._1

  /** [[connectedComponents]] plus the number of BATCHES the loop ran
    * (two doubling rounds each; 0 = resolved by the in-driver
    * union-find) — the scale bench logs it to prove logarithmic-round
    * convergence on stress graphs. */
  def connectedComponentsStats(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localEdgeLimit: Long = 1L << 20): (DataFrame, Int) = {
    require(localEdgeLimit < Int.MaxValue,
      s"localEdgeLimit must be below Int.MaxValue (a driver collect that " +
        s"size cannot succeed); got $localEdgeLimit — use 0 to disable the gate")
    // The pair operators return lazy plans, and the probe plus both sides
    // of the edge union read the pairs up to three times: pinning runs
    // the pair plan's shuffles once, so each read recomputes only its
    // last stage. Unpinned, dropNearDupMembers with localEdgeLimit = 0
    // over minhashNearDupPairs took 40% longer than over checkpointed
    // pairs (sf0.1 documents < 1000, local[4]).
    val e0 = GraftColumn.pinned(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))
    if (localEdgeLimit > 0) {
      // one incremental job decides the gate AND feeds the local path:
      // take() collects partition batches until it has limit+1 rows (or
      // the input ends), so an over-limit graph pays one short probe,
      // and an in-limit graph is never scanned again. The self-loop /
      // null-endpoint filter mirrors the distributed edge builder.
      val rows = e0.where(col("src") =!= col("dst")).take(localEdgeLimit.toInt + 1)
      if (rows.length <= localEdgeLimit)
        return (localUnionFind(pairs.sparkSession, rows), 0)
    }
    // no distinct(): every pair operator emits unique (a<b) pairs, and a
    // duplicate edge is harmless to min-propagation anyway — deduping
    // would cost a full shuffle of the edge list per call
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
    // Pinning runs a batch's shuffle stages; the convergence sum is then
    // a 1-row aggregate over the pinned labels (one narrow pass over the
    // last stage — small next to the round's joins). The exact decimal
    // sum is an overflow-safe monotone convergence witness. An earlier
    // variant rode the sum on the materializing action itself as an
    // Observation metric, but observation delivery is ASYNCHRONOUS on the
    // listener bus — in a busy session each round could stall a full
    // listener-timeout before falling back to this same aggregate,
    // turning a 3-round resolve into tens of seconds. Determinism beats
    // saving a trivial job.
    def pinWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val out = GraftColumn.pinned(df)
      val s = out.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
      (out, s) // s is null on empty input; Objects.equals handles it
    }
    // init ⊕ first propagate in one aggregation: every node of any edge,
    // labeled min(self, min neighbor)
    var (labels, prevSum) = pinWithSum(
      edges.groupBy(col("src").as("id"))
        .agg(min("dst").as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("lbl")))
    // maxIter keeps its original meaning — a bound on propagate+compress
    // ROUNDS — converted to batches here (two rounds per batch), so a
    // caller-supplied bound is never silently doubled
    val maxBatches = (maxIter + 1) / 2
    var batches = 0
    var converged = false
    while (!converged && batches < maxBatches) {
      // TWO doubling rounds per convergence check: the dominant per-round
      // cost at the low end is the FIXED job overhead of the convergence
      // aggregate (scheduling, a driver round trip), not the joins —
      // batching halves the number of checks while the reached distance
      // still compounds (2(d+1) per round, squared per batch).
      // Monotonicity keeps the witness valid across a batch: an
      // unchanged sum over two rounds still ⟺ converged, and an extra
      // round on a converged graph is an idempotent no-op.
      val (next, s) = pinWithSum(roundStep(edges, roundStep(edges, labels)))
      converged = java.util.Objects.equals(s, prevSum)
      prevSum = s
      labels = next
      batches += 1
    }
    if (!converged && batches >= maxBatches)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxBatches batches " +
          s"(~$maxIter propagate+compress rounds) — with pointer " +
          "doubling this indicates a component of astronomically large " +
          "diameter or corrupt input")
    (labels.select(col("id"), col("lbl").as("component")), batches)
  }

  /** In-driver resolution of a bounded pair graph (rows already filtered
    * of self-loops and null endpoints by the gate): index-compressed
    * union-find — node ids sorted into an array, parents as int indices,
    * union by min root with path compression — so the final root of
    * every node is the minimum id of its component, label-identical to
    * the distributed doubling loop. Primitive arrays throughout: no
    * boxing grows the driver footprint beyond the documented bound. */
  private def localUnionFind(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val m = rows.length
    val endpoints = new Array[Long](2 * m)
    var i = 0
    while (i < m) {
      endpoints(2 * i) = rows(i).getLong(0)
      endpoints(2 * i + 1) = rows(i).getLong(1)
      i += 1
    }
    val ids = endpoints.distinct.sorted // ascending: smaller index ⟺ smaller id
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    i = 0
    while (i < m) {
      val a = find(java.util.Arrays.binarySearch(ids, endpoints(2 * i)))
      val b = find(java.util.Arrays.binarySearch(ids, endpoints(2 * i + 1)))
      // union by smaller INDEX = smaller id (ids is sorted), so every
      // root is the minimum id seen so far in its set
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    ids.indices.map(j => (ids(j), ids(find(j)))).toDF("id", "component")
  }

  /** One propagation round's plan, exposed for plan-shape assertions:
    * the round's labels, with the [[propagate]] intermediate pinned (its
    * shuffle stages run here) so the compress self-join computes it
    * once. Every join is a key equality (id / lbl) — the shape that keeps
    * each round a pair of hash-partitioned shuffles at any graph size. */
  private[graft] def roundStep(edges: DataFrame, labels: DataFrame): DataFrame = {
    val prop = GraftColumn.pinned(propagate(edges, labels))
    // compress: follow the label pointer one hop — label(label(v)).
    // Valid because lbl(v) is always the id of a node CONNECTED to v
    // (labels start as own ids and only ever take a neighbor's label),
    // so its label is also connected; monotone (labels only decrease).
    prop
      .join(prop.select(col("id").as("lbl"), col("lbl").as("plbl")), Seq("lbl"), "left")
      .select(col("id"),
        least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
  }

  /** The propagate half of [[roundStep]], exposed for plan-shape
    * assertions because the round reads it through a pinned leaf: each
    * node takes the min label in its closed neighborhood (map-side
    * partial min, one shuffle on dst, then an id-keyed join back to the
    * labels). */
  private[graft] def propagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("id").as("src"), col("lbl")), "src")
      .groupBy(col("dst")).agg(min("lbl").as("nlbl"))
      .select(col("dst").as("id"), col("nlbl"))
    labels.join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
  }

  /** Near-dup-aware dedup: keep ONE document per cluster (the minimum id),
    * drop every other member. `pairs` is any [[Dedup]] pair result over
    * `docs`. Non-members (docs in no pair) always survive — the drop list
    * is proportional to the duplicate count, joined LEFT ANTI on the id. */
  def dropNearDupMembers(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      localEdgeLimit: Long = 1L << 20): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, localEdgeLimit = localEdgeLimit)
    val drop = comps.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Near-dup-aware dedup keeping the BEST member per cluster under an
    * explicit preference order (e.g. quality desc, then id for
    * determinism) — what a curation pipeline actually wants: when five
    * near-copies of a page exist, keep the cleanest, not the one with
    * the smallest id. Callers MUST make the order total (append the id
    * column) or ties pick an arbitrary-but-deterministic winner by the
    * window's sort.
    *
    * Scale shape: the ranking window runs ONLY over cluster members
    * (O(nodes-in-pairs), joined to the component map); everything else
    * passes through an ANTI join against the (small, broadcastable)
    * member-id list. The corpus is never windowed wholesale. */
  def keepBestPerCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      aCol: String = "id_a", bCol: String = "id_b",
      localEdgeLimit: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs, aCol, bCol, localEdgeLimit = localEdgeLimit)
      .withColumnRenamed("id", idCol)
    val members = docs.join(comps, Seq(idCol))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("component")).orderBy(order: _*)))
      .where(col("__rk") === 1)
      .drop("__rk", "component")
    val nonMembers = docs.join(comps.select(idCol), Seq(idCol), "left_anti")
    nonMembers.unionByName(members)
  }
}
