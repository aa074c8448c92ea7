package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Link-graph scoring for corpus curation: PageRank (Page et al. 1999,
  * "The PageRank Citation Ranking") over an arbitrary edge list. Web-scale
  * pipelines rank domains/hosts by centrality over the crawl's link graph
  * and use the score as a quality prior (the CommonCrawl host-ranking
  * recipe); the same operator ranks any graph an upstream operator emits —
  * near-dup clusters, citation edges, or the word co-occurrence graph the
  * oracle query derives.
  *
  * Scale shape (mirrors [[Clusters]]' per-round discipline): each
  * iteration is two hash-partitioned equi-joins keyed on the node id plus
  * one partial-aggregated sum keyed on dst — no driver-side state except
  * the 1-row dangling-mass aggregate (a bounded artifact, like the CC
  * convergence sum). State is O(|nodes|), one double per node.
  *
  * Lineage: every operator returns one plan that Spark recomputes from
  * lineage after losing an executor; a frame read more than once, and
  * each loop round's result, is shared through `GraftColumn.pinned`
  * placed after its exchange, which also keeps a round's plan flat. Two
  * costs follow: pinning runs the shuffle-map stages when the operator
  * is called, and a loop's result keeps every round's shuffle files
  * referenced until the result is dropped (the loops here run a fixed
  * or capped number of rounds).
  */
object Graph {

  /** Directed word co-occurrence edges: one (src, dst) row per DISTINCT
    * adjacent token pair in the corpus, self-pairs dropped. In-scan pair
    * generation (zip_with over two slices — no per-position explode
    * before the distinct), one shuffle for the global dedup. */
  def wordCooccurrenceEdges(docs: DataFrame, textCol: String): DataFrame =
    docs.select(split(col(textCol), " ").as("__w"))
      .select(explode(zip_with(
        expr("slice(__w, 1, size(__w)-1)"),
        expr("slice(__w, 2, size(__w)-1)"),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** The directed edge list as (src, dst) string ids; an edge with a NULL
    * endpoint names no node and is dropped. */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** [[directed]] edges and their node set (id), both pinned: the
    * ranking loops read them every round. */
  private def edgesAndNodes(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e = GraftColumn.pinned(directed(edges, srcCol, dstCol))
    (e, GraftColumn.pinned(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()))
  }

  /** The undirected simple graph under `edges`: one (a, b) row per linked
    * pair, a < b as strings. Direction, duplicates and self-loops are
    * normalized away, and so are NULL endpoints (`least`/`greatest` skip
    * a NULL, leaving a = b). Pinned after the distinct's exchange: every
    * caller reads it more than once. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    GraftColumn.pinned(edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string")).as("b"))
      .where(col("a") =!= col("b")).distinct())

  /** The power iteration shared by [[pageRank]] and
    * [[personalizedPageRank]]: ranks start at `r0`, and each round sets
    * every node's rank to `update(c, s)`, where `c` is the rank/outdeg
    * mass arriving along its in-edges and `s` the total rank on dangling
    * nodes (no out-edges). */
  private def rankIteration(e: DataFrame, nodes: DataFrame, r0: Column,
      iterations: Int)(update: (Column, Double) => Column): DataFrame = {
    val deg = GraftColumn.pinned(
      e.groupBy("src").agg(count(lit(1L)).cast("double").as("outdeg")))
    var ranks = nodes.select(col("id"), r0.as("r"))
    for (_ <- 1 to iterations) {
      // dangling mass: 1-row aggregate over nodes with no out-edges
      // (anti join on the degree table) — the only driver scalar per round
      val s = ranks.join(deg.select(col("src").as("id")), Seq("id"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0))).head.getDouble(0)
      // contribution pass: rank/outdeg shipped along edges, partial-
      // aggregated map-side before the dst shuffle
      val contrib = e
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("outdeg")).as("c"))
      ranks = GraftColumn.pinned(nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), update(coalesce(col("c"), lit(0.0)), s).as("r")))
    }
    ranks
  }

  /** Fixed-iteration PageRank with uniform teleport and dangling-mass
    * redistribution:
    *
    *   r₀(v)    = 1/n
    *   rₜ₊₁(v) = (1−d)/n + d·( Σ_{(u,v)∈E} rₜ(u)/outdeg(u) + Sₜ/n )
    *
    * where Sₜ is the total rank mass on dangling nodes (no out-edges) —
    * without the Sₜ/n term, mass leaks every round and ranks are not a
    * distribution. Fixed iterations (not convergence-tested) keep the
    * result exactly restatable by an unrolled SQL oracle; production runs
    * at 100 TB pick `iterations` ~10–20, each costing the same two-join
    * round regardless of graph size.
    *
    * Returns (id, r) — r sums to 1 over the node set (up to float
    * association). Node ids are taken as strings (domain/host/word keys);
    * numeric graphs cast transparently. An edge with a NULL endpoint is
    * dropped, as in every operator here. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    val n = nodes.count().toDouble
    rankIteration(e, nodes, lit(1.0 / n), iterations) { (c, s) =>
      lit((1 - damping) / n) + lit(damping) * (c + lit(s / n))
    }
  }

  /** Directed-graph reciprocity + dyad census: how many linked node
    * pairs are MUTUAL (both directions present) vs asymmetric —
    * reciprocity = 2·mutual_dyads / distinct_edges. The
    * citation-vs-conversation diagnostic ([[pageRank]] rank flows mean
    * different things at reciprocity 0.05 — a citation hierarchy —
    * than at 0.6 — a dialogue graph), and a dedup signal: a mutual
    * link between near-identical docs is bidirectional boilerplate.
    * Self-loops are dropped; duplicate edges collapse first. ONE
    * distinct-edge rollup + ONE keyed equi self-join (never a
    * cartesian); 1 row:
    * (n_edges, n_dyads, n_mutual, n_asym, reciprocity). */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String, dp: Int = 6): DataFrame = {
    // counted once, self-joined once
    val e = GraftColumn.pinned(directed(edges, srcCol, dstCol)
      .where(col("src") =!= col("dst")).distinct())
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"))
      .agg(count(lit(1L)).as("__m2")) // each mutual dyad counted twice
    val tot = e.agg(count(lit(1L)).as("n_edges"))
    tot.crossJoin(mutual).select(
      col("n_edges"),
      // dyads = edges − mutual/2 (each mutual pair collapses 2 edges)
      (col("n_edges") - (col("__m2") / 2).cast("long")).as("n_dyads"),
      (col("__m2") / 2).cast("long").as("n_mutual"),
      (col("n_edges") - col("__m2")).as("n_asym"),
      when(col("n_edges") > 0,
        round(col("__m2").cast("double") / col("n_edges"), dp))
        .as("reciprocity"))
  }

  /** Personalized PageRank (Haveliwala, WWW 2002): [[pageRank]] with the
    * teleport vector concentrated on a SEED set — "importance as seen
    * FROM these nodes", the entity-centric ranking that global PageRank
    * flattens away: seed with one domain's pages and the ranks read as
    * topical authority; seed with a known-good doc cluster and high-PPR
    * neighbors are expansion candidates. Restart mass (and dangling
    * mass, per the standard convention) goes uniformly to the seeds
    * that exist in the graph; non-seed nodes start at 0.
    *
    * Per-round cost/discipline is [[pageRank]]'s exactly: one
    * node-keyed equi-join contribution pass (partial-aggregated before
    * the dst shuffle), a 1-row dangling aggregate as the only driver
    * scalar; the two share one loop and differ only in the teleport
    * term. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(seeds.nonEmpty, "need at least one seed node")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    val isSeed = col("id").isin(seeds: _*)
    val k = nodes.where(isSeed).count().toDouble
    require(k > 0, s"none of the ${seeds.size} seeds appears in the graph")
    val seedMass = when(isSeed, lit(1.0 / k)).otherwise(lit(0.0))
    rankIteration(e, nodes, seedMass, iterations) { (c, s) =>
      lit(1 - damping) * seedMass + lit(damping) * (c + lit(s) * seedMass)
    }
  }

  /** Fixed-iteration HITS (Kleinberg, JACM 1999): mutually-recursive hub
    * and authority scores over a directed edge list —
    *
    *   a(v) ∝ Σ_{(u,v)∈E} h(u)      h(u) ∝ Σ_{(u,v)∈E} a(v)
    *
    * each L2-normalized per half-step (the power iteration on AᵀA/AAᵀ).
    * PageRank's complement for curation: PageRank finds endorsed pages,
    * HITS separates DIRECTORIES (hubs — link to many good pages) from
    * SOURCES (authorities — linked by many good hubs), the split that
    * matters when picking seed lists vs content pages.
    *
    * Same per-round discipline as [[pageRank]]: each half-step is one
    * node-keyed equi-join + one partial-aggregated sum; the only driver
    * scalar is the 1-row L2 norm. Fixed iterations keep the result
    * exactly restatable by an unrolled SQL oracle. Returns (id, hub,
    * auth), empty for an empty edge list. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol)
    def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
      // 1-row L2 norm: the only driver scalar per half-step. It is 0 only
      // for an empty node set, where the division meets no row: every
      // edge gives its dst a positive authority and its src a positive
      // hub score.
      val norm = math.sqrt(raw.agg(
        coalesce(sum(col(scoreCol) * col(scoreCol)), lit(0.0))).head.getDouble(0))
      GraftColumn.pinned(nodes.join(raw, Seq("id"), "left")
        .select(col("id"), (coalesce(col(scoreCol), lit(0.0)) / norm).as(scoreCol)))
    }
    var hubs = nodes.select(col("id"), lit(1.0).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      auths = normalized(
        e.join(hubs.select(col("id").as("src"), col("h")), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("a")), "a")
      hubs = normalized(
        e.join(auths.select(col("id").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("h")), "h")
    }
    hubs.join(auths, "id").select(col("id"), col("h").as("hub"), col("a").as("auth"))
  }

  /** k-core subgraph: iteratively peel nodes of degree < k from the
    * undirected simple graph until a fixpoint — the standard dense-
    * region extractor (spam-cluster mining, community seeds, the
    * "remove the long tail" step before expensive per-node scoring).
    * Returns the surviving nodes with their in-core degree (≥ k by the
    * fixpoint).
    *
    * Scale shape ([[Clusters]]' loop discipline): each round is one
    * degree aggregate + two node-keyed LEFT SEMI joins, with the
    * surviving edge set repartitioned on `a` and pinned after that
    * exchange, so the round's plan stays flat and each read of it
    * replays one shuffle read, not every earlier round's filters; the
    * only driver scalar per round is the surviving-edge count (the
    * convergence test). Rounds are data-dependent but bounded by the
    * peeling depth — `maxRounds` guards pathological chains (a path
    * graph peels one layer per round), matching the CC resolver's
    * round-cap contract. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var c = undirected(edges, srcCol, dstCol)
    var n = c.count()
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      require(rounds < maxRounds,
        s"k-core peeling did not converge in $maxRounds rounds")
      val deg = c.select(col("a").as("id")).union(c.select(col("b")))
        .groupBy("id").agg(count(lit(1L)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("id")
      // pinned after an exchange on `a`. With `keep` broadcast the semi
      // joins add none, and each of the next round's four reads would
      // recompute every earlier round's filters: a 45-round peel of
      // 45,500 edges took 64 s instead of 15 s (local[4]). When the semi
      // joins shuffle, the last one is already keyed on `a` and the
      // repartition plans as no exchange.
      val pruned = GraftColumn.pinned(c
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .repartition(col("a")))
      val m = pruned.count()
      converged = m == n
      c = pruned; n = m
      rounds += 1
    }
    c.select(col("a").as("id")).union(c.select(col("b")))
      .groupBy("id").agg(count(lit(1L)).as("core_degree"))
  }

  /** Triangle count + global clustering coefficient of the UNDIRECTED
    * simple graph underlying `edges` (direction, duplicates and self
    * loops are normalized away) — the local-density complement of the
    * centrality scores: spam farms and boilerplate link blocks show up
    * as abnormal clustering, and `3·T / wedges` is the standard
    * graph-health summary.
    *
    * Scale shape (Suri & Vassilvitskii, WWW 2011 — the MapReduce
    * triangle recipe): every edge is ORIENTED from its lower-(degree,
    * id) endpoint to the higher one, so each wedge is generated at
    * exactly one pivot and a pivot's out-degree is O(√m) on any graph —
    * the hub that would explode a naive neighbor self-join never
    * pivots. Wedges close against the canonical edge set by equi-join
    * on the (least, greatest) pair key. Everything is joins +
    * partial-aggregated counts; the single-row output is the only
    * collapse. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String,
      dp: Int = 6): DataFrame = {
    val c = undirected(edges, srcCol, dstCol)
    val deg = c.select(col("a").as("id")).union(c.select(col("b")))
      .groupBy("id").agg(count(lit(1L)).as("deg"))
    val da = deg.select(col("id").as("a"), col("deg").as("__da"))
    val db = deg.select(col("id").as("b"), col("deg").as("__db"))
    val oriented = c.join(da, "a").join(db, "b")
      .select(
        when(col("__da") < col("__db") ||
             (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val wedges = oriented.join(oriented.select(col("u"), col("v").as("w")), "u")
      .where(col("v") < col("w"))
    val tri = wedges.join(c.select(col("a").as("x"), col("b").as("y")),
        least(col("v"), col("w")) === col("x") &&
        greatest(col("v"), col("w")) === col("y"))
      .agg(count(lit(1L)).as("n_triangles"))
    val degAgg = deg.agg(count(lit(1L)).as("n_nodes"),
      (coalesce(sum(col("deg") * (col("deg") - 1)), lit(0L)) / 2).cast("long")
        .as("n_wedges"))
    tri.crossJoin(degAgg).crossJoin(c.agg(count(lit(1L)).as("n_edges")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        round(when(col("n_wedges") > 0,
            col("n_triangles") * lit(3.0) / col("n_wedges"))
          .otherwise(lit(0.0)), dp).as("global_clustering"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over the undirected simple graph, made DETERMINISTIC: every
    * node starts as its own label, and each round adopts the label
    * carried by the most neighbors, ties broken by MINIMUM label (the
    * classic "random order, random tie" formulation is useless for
    * reproducible pipelines and impossible to oracle). Fixed
    * `iterations` rather than convergence detection — synchronous LPA
    * can 2-cycle on bipartite structures, and a fixed horizon is both
    * the standard remedy and what lets an external engine restate the
    * rounds exactly. Complements [[graft.functions.Clusters]]:
    * connected components answer "what is linked at all" (any bridge
    * merges two blobs); LPA's density-weighted vote splits a component
    * along its sparse cuts.
    *
    * Scale shape ([[pageRank]]'s per-round discipline): each round is
    * ONE node-keyed equi-join (neighbor label lookup), one
    * (node, label)-keyed partial-aggregated count, and one per-node
    * window top-1 (WindowGroupLimit prunes before the final sort);
    * each round's labels are pinned so its plan stays flat. State is one
    * label per node. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    import org.apache.spark.sql.expressions.Window
    val c = undirected(edges, srcCol, dstCol)
    // both directions of the pinned edge set, read every round
    val und = c.select(col("a").as("id"), col("b").as("nbr"))
      .union(c.select(col("b").as("id"), col("a").as("nbr")))
    var labels = und.select(col("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val top = Window.partitionBy(col("id"))
      .orderBy(col("__c").desc, col("lbl").asc)
    for (_ <- 1 to iterations) {
      labels = GraftColumn.pinned(und
        .join(labels.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy(col("id"), col("lbl")).agg(count(lit(1L)).as("__c"))
        .withColumn("__rn", row_number().over(top))
        .where(col("__rn") === 1)
        .select(col("id"), col("lbl")))
    }
    labels.withColumnRenamed("lbl", "community")
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for node pairs
    * NOT yet connected, Σ_z 1/ln(deg z) over their common neighbors z —
    * the classic local link-prediction/related-entity score (rare
    * shared neighbors say more than hubs). Returns the top `k`
    * predicted pairs with their common-neighbor counts.
    *
    * Scale shape: wedges are generated at each pivot (u—z—v with u<v,
    * both neighbors of z) — inherently O(deg²) per pivot, so
    * `maxPivotDegree` excludes super-hubs from pivoting (standard
    * practice, and principled here: a hub's contribution 1/ln(deg) is
    * the smallest signal in the sum while its wedge set is the entire
    * quadratic cost). Existing edges leave by broadcast-friendly
    * anti-join on the canonical pair key; everything else is keyed
    * joins + partial-aggregated sums + one TakeOrdered. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxPivotDegree: Int = 1000, dp: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val c = undirected(edges, srcCol, dstCol)
    val und = c.select(col("a").as("z"), col("b").as("n"))
      .union(c.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy("z").agg(count(lit(1L)).as("deg"))
    val pivots = und.join(
      deg.where(col("deg") <= maxPivotDegree && col("deg") >= 2), "z")
    val wedges = pivots.select(col("z"), col("deg"), col("n").as("u"))
      .join(pivots.select(col("z"), col("n").as("v")), "z")
      .where(col("u") < col("v"))
    val scored = wedges
      .groupBy(col("u"), col("v"))
      .agg(round(sum(lit(1.0) / log(col("deg"))), dp).as("aa_score"),
        count(lit(1L)).as("n_common"))
    scored
      .join(c, scored("u") === c("a") && scored("v") === c("b"), "left_anti")
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Newman modularity of a community assignment (Newman & Girvan 2004):
    * per community c, `Q_c = e_c/m − (d_c/2m)²` (intra-edge share minus
    * the share expected under the degree-preserving null), `Q = Σ Q_c`
    * — the standard "are these communities real" score for
    * [[labelPropagation]]'s output. Same undirected canonicalization
    * (string least/greatest, self-loops dropped) as LPA, so the two
    * compose without re-keying.
    *
    * Scale shape: one canonical edge distinct, two label equi-joins
    * (labels broadcast when small), a degree rollup, and
    * community-keyed aggregates — exchanges carry edges and the
    * community space, nothing quadratic. Returns one row per community
    * (intra edges, degree mass, Q_c) ORDER BY community; Σ q_c over the
    * frame is Q. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, idCol: String, communityCol: String,
      dp: Int = 6): DataFrame = {
    val c = undirected(edges, srcCol, dstCol)
    val m = c.agg(count(lit(1L)).cast("double").as("__m"))
    val lab = labels.select(col(idCol).cast("string").as("__id"),
      col(communityCol).cast("string").as("__cm"))
    val intra = c
      .join(lab.toDF("a", "__ca"), "a")
      .join(lab.toDF("b", "__cb"), "b")
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1L)).as("intra_edges"))
    val degMass = c.select(col("a").as("__id"))
      .union(c.select(col("b").as("__id")))
      .groupBy("__id").agg(count(lit(1L)).as("__d"))
      .join(lab, "__id")
      .groupBy(col("__cm").as("community"))
      .agg(sum(col("__d")).as("degree_mass"))
    degMass.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("intra_edges"), col("degree_mass"),
        round(col("intra_edges") / col("__m") -
          pow(col("degree_mass") / (lit(2.0) * col("__m")), 2.0), dp)
          .as("q_c"))
      .orderBy("community")
  }
  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over the undirected edge set — "do hubs link
    * to hubs (r > 0, social graphs) or to leaves (r < 0, the
    * hub-and-spoke shape of web/co-occurrence graphs)". Computed over
    * the symmetrized directed pairs (each undirected edge counted both
    * ways, the standard convention), where the x/y marginals coincide
    * and Pearson collapses to
    *
    *   r = (2M·Σ d_s·d_t − (Σ d_s)²) / (2M·Σ d_s² − (Σ d_s)²)
    *
    * Degrees are integers, so every moment is exact. Shape: canonical
    * dedup + self-loop drop, ONE degree rollup, two node-keyed
    * equi-joins back to the (2M-row) symmetrized pairs, a 1-row
    * verdict. r is NULL for a degree-regular graph (0 variance). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String, dp: Int = 6): DataFrame = {
    val c = undirected(edges, srcCol, dstCol)
    val sym = c.select(col("a").as("__s"), col("b").as("__d"))
      .unionByName(c.select(col("b").as("__s"), col("a").as("__d")))
    val deg = sym.groupBy("__s").agg(count(lit(1L)).as("__deg"))
    val pairs = sym
      .join(deg, Seq("__s"))
      .join(deg.select(col("__s").as("__d"), col("__deg").as("__degd")),
        Seq("__d"))
    val m = pairs.agg(count(lit(1L)).as("__n"),
      sum(col("__deg")).as("__sx"),
      sum(col("__deg") * col("__deg")).as("__sxx"),
      sum(col("__deg") * col("__degd")).as("__sxy"))
    val num = col("__n").cast("double") * col("__sxy") -
      col("__sx").cast("double") * col("__sx")
    val den = col("__n").cast("double") * col("__sxx") -
      col("__sx").cast("double") * col("__sx")
    m.select(
      (col("__n") / 2).cast("long").as("n_edges"),
      when(den > 0.0, round(num / den, dp)).as("assortativity"))
  }
}

