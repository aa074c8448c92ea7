package graft

import graft.queries.{CheckQueries, PipelineQueries, RelationalQueries}
import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions: these lock in the scale properties the
  * operators were designed for — a regression that silently flips a
  * broadcast join to a shuffle join or reintroduces a cartesian product
  * fails here, not at 100 TB. */
class PlanSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  // Plan-shape assertions inspect the pre-execution physical plan; AQE can
  // re-plan at runtime (and its pre-action plan string is warm-up/order
  // sensitive), so pin the static planner for this suite only.
  private var aqeWas: String = "true"
  override def beforeAll(): Unit = {
    super.beforeAll()
    aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }
  override def afterAll(): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    super.afterAll()
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    (CheckQueries.queries ++ RelationalQueries.queries ++ PipelineQueries.queries)(
      name)(spark, sf0001)

  /** Caller plan + the two-phase rank/cumsum SUB-plans built during
    * frame construction: the r14 boundary-consistency fix checkpoints
    * the ranked frame, so the range exchange no longer appears in the
    * caller's executedPlan — Windows captures each sub-plan instead
    * (the checkpoint is eager, so construction builds and records
    * them). Assertions about the two-phase shape read `sub`; negative
    * corpus-window assertions must scan BOTH. */
  private def planWithRank(body: => DataFrame): (String, Seq[String]) = {
    graft.ops.Windows.capturePlans.set(true)
    graft.ops.Windows.capturedPlans.clear()
    try {
      val p = plan(body)
      import scala.jdk.CollectionConverters._
      (p, graft.ops.Windows.capturedPlans.asScala.toList)
    } finally graft.ops.Windows.capturePlans.set(false)
  }

  test("q_join_bcast broadcasts the dimension side (no shuffle of the fact table)") {
    val p = plan(q("q_join_bcast"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(q("q_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("GlobalSort"), "top-k must not globally sort")
  }

  test("q_window_topk rides WindowGroupLimit (per-partition top-k heaps)") {
    val p = plan(q("q_window_topk"))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  private def docs = graft.sources.Sources.table(spark, sf0001, "documents")

  test("dedup_jaccard has no cartesian product or nested-loop join") {
    val df = graft.functions.Dedup.jaccardNearDupPairs(
      docs.where(org.apache.spark.sql.functions.col("doc_id") < 1000),
      "doc_id", "text", shingleK = 5, tauPct = 51)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian reintroduced:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join reintroduced:\n$p")
  }

  test("dedup_minhash joins by key equality with the signature screen in place") {
    val df = graft.functions.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleK = 5, numHashes = 64, bands = 16, tauPct = 51)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair enumeration degraded to all-pairs:\n$p")
    assert(p.contains("minhash_agree"), s"candidate screen missing from the plan:\n$p")
    // the featurization is computed once, inside the pinned leaf; unshared,
    // every consumer (band self-join sides, screen and verify joins, the
    // self-pair qualifier) would re-evaluate minhash_sig
    assert("minhash_sig".r.findAllIn(p).isEmpty,
      s"featurization evaluated per consumer instead of shared:\n$p")
  }

  test("dedup_minhash leaves no block in storage") {
    // storage is session-global, and earlier tests' blocks come and go as
    // the cleaner reaps them: assert that no NEW RDD holds blocks
    def stored = spark.sparkContext.getRDDStorageInfo.map(r => r.id -> r.name).toMap
    val before = stored.keySet
    val n = graft.functions.Dedup.minhashNearDupPairs(docs, "doc_id", "text").count()
    assert(n > 0)
    val added = stored -- before
    assert(added.isEmpty, s"the operator left blocks in storage: $added")
  }

  test("annSelfJoin candidates come from (table,bucket) equi-joins — never all-pairs") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
      .select("vec_id", "embedding")
    for (minCos <- Seq(None, Some(0.99))) {
      val df = graft.functions.Similarity.annSelfJoin(
        emb, "vec_id", "embedding", numPlanes = 8, k = 3, minCos = minCos)
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"ANN candidate generation degraded to all-pairs (minCos=$minCos):\n$p")
      assert(p.contains("cosine_lsh_buckets"),
        s"bucketing expression missing from the plan (minCos=$minCos):\n$p")
    }
  }

  test("contaminationMatrix broadcasts the suite grams; tCloseness broadcasts the category table") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
    val bench = docs.where(col("doc_id") % 31 === 0)
      .select(concat(lit("s"), (col("doc_id") % 3).cast("string")).as("b"),
        col("text"))
    val pm = plan(graft.functions.Decontam.contaminationMatrix(
      docs.where(col("doc_id") % 31 =!= 0), bench, "doc_id", "b", "text", 30))
    assert(pm.contains("BroadcastHashJoin") && !pm.contains("CartesianProduct"),
      s"suite gram set must broadcast into the corpus scan:\n$pm")
    val cust = graft.sources.Sources.table(spark, sf0001, "customer")
    val pt = plan(graft.ops.TableHealth.tCloseness(cust,
      Seq(col("c_nationkey")), col("c_mktsegment"), t = 0.2))
    assert(pt.contains("BroadcastHashJoin") && !pt.contains("CartesianProduct"),
      s"category marginals must broadcast:\n$pt")
  }

  test("tfidfCosinePairs candidates come from term equi-joins — never a cartesian") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    val p = plan(graft.functions.Dedup.tfidfCosinePairs(docs, "doc_id", "text", 0.9))
    // (the 1-row corpus-count broadcast is a legitimate nested loop —
    // only a true CartesianProduct would be a regression)
    assert(!p.contains("CartesianProduct"),
      s"TF-IDF pair generation degraded to all-pairs:\n$p")
  }

  test("exact-substr dedup: gram ownership broadcasts back, never all-pairs") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    val p = plan(graft.functions.SpanDedup.dropExactSubstr(
      docs, "doc_id", "text", minTokens = 12))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exact-substr marking degraded to all-pairs:\n$p")
    // the repeated-gram set (bounded by duplicated text) must ride a
    // broadcast hash join back onto the in-scan gram stream — a
    // shuffle there would move one row per corpus token
    assert(p.contains("BroadcastHashJoin"),
      s"expected the ownership broadcast join:\n$p")
  }

  test("self-repeat dedup is a single in-scan projection — zero exchanges") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    val p = plan(graft.functions.SpanDedup.dropSelfRepeats(
      docs, "doc_id", "text", minTokens = 12))
    assert(!p.contains("Exchange"),
      s"self-repeat dedup must not shuffle — it is per-row algebra:\n$p")
    assert(!p.contains("Join"), s"self-repeat dedup must not join:\n$p")
  }

  test("semantic decontamination corpus pass is in-scan — zero exchanges, zero joins") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val p = plan(graft.functions.Decontam.semanticContamination(
      emb, emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", "embedding"))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"semantic decontam corpus pass must fold the bench literal in-scan:\n$p")
  }

  test("semDedup candidates come from (cluster, sub-cell) equi-joins — never all-pairs") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
      .select("vec_id", "embedding")
    val p = plan(graft.functions.Similarity.semDedupDropIds(
      emb, "vec_id", "embedding", nClusters = 4, minCos = 0.99))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SemDedup candidate generation degraded to all-pairs:\n$p")
  }

  test("hammingNearDupPairs candidates come from (chunk_idx, chunk) equi-joins — never all-pairs") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
    val p = plan(graft.functions.Dedup.hammingNearDupPairs(docs, "doc_id", "h", 3, 4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"Hamming banding degraded to all-pairs:\n$p")
    assert(p.contains("Join") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a chunk equi-join in the plan:\n$p")
  }

  test("IVFADC search: broadcast hash join on list id — index codes never shuffle") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
      .select("vec_id", "embedding")
    val ix = graft.functions.IvfPq.train(emb, "embedding", nLists = 8, seed = 42L)
    val index = graft.functions.IvfPq.encodeIndex(emb, "vec_id", "embedding", ix)
    val q0 = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = plan(graft.functions.IvfPq.search(index, "vec_id", ix,
      q0, "qid", "qvec", k = 5, nProbe = 2))
    assert(p.contains("BroadcastHashJoin"),
      s"probe tables must broadcast onto the index scan:\n$p")
    // exactly ONE shuffle exchange is allowed — the final top-k window
    // (qid, id, dist triples). r17: the probe-rank window's shuffle is
    // GONE (PqEncodeTop computes probe lists in-scan); an index-side
    // shuffle would add a second.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected the top-k shuffle only, found $shuffles:\n$p")
  }

  test("q_asof has no join operator — union + window, not a range-join explosion") {
    val p = plan(q("q_asof"))
    assert(!p.contains("Join"), s"as-of degraded to a join (range joins explode at scale):\n$p")
    assert(p.contains("Window"), s"expected the last-value window:\n$p")
  }

  test("chk_fused is one aggregate over one scan (no shuffle beyond the final agg)") {
    val p = plan(q("chk_fused"))
    // one partial+final HashAggregate pair over a single parquet scan
    assert("HashAggregate".r.findAllIn(p).size == 2, s"expected exactly partial+final agg:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"expected a single scan:\n$p")
  }

  test("fused check pass prunes the scan to the checked columns") {
    // chk_negative checks only c_acctbal on an 8-column customer table —
    // the parquet ReadSchema must carry just that column
    val p = plan(q("chk_negative"))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
      .getOrElse(fail(s"no ReadSchema in plan:\n$p"))
    assert(read.contains("c_acctbal") && !read.contains("c_name"),
      s"scan not pruned to the checked column: $read")
  }

  test("pipeline_vocab top-k is a TakeOrdered over partial aggregates, not a global sort") {
    val p = plan(q("pipeline_vocab"))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("text_zipf cuts the vocabulary by TakeOrdered BEFORE the ranking window") {
    val p = plan(q("text_zipf"))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected a TakeOrdered vocabulary cut:\n$p")
    // the single-partition window may only run ABOVE the TakeOrdered
    // (over its 50-row output): in the bottom-up plan string the
    // Window operator must print before (above) the TakeOrdered line
    val iw = p.indexOf("Window")
    val it = p.indexOf("TakeOrderedAndProject")
    assert(iw >= 0 && iw < it,
      s"ranking window must consume the TakeOrdered output, not |vocab| rows:\n$p")
  }

  test("text_rrf rank windows ride 50-row TakeOrdered cuts, not corpus sorts") {
    val p = plan(q("text_rrf"))
    // each branch: rank Window above its 50-row TakeOrdered cut — so the
    // DEEPEST window still prints before (above) the deepest TakeOrdered
    val it = p.lastIndexOf("TakeOrderedAndProject")
    assert(it >= 0, s"expected TakeOrdered list cuts:\n$p")
    assert(p.lastIndexOf("Window") < it,
      s"rank windows must sit above the TakeOrdered cuts:\n$p")
  }

  test("chk_detail early-terminates via a limit, not a full materialization") {
    val p = plan(q("chk_detail"))
    assert(p.contains("TakeOrderedAndProject") || p.contains("CollectLimit"),
      s"expected limit-based early termination:\n$p")
  }

  test("connectedComponents round: key-equality joins only, no cartesian/nested-loop") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // representative inputs at the loop's steady state: a symmetric edge
    // list and a labels relation — the exact shapes roundStep receives
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val e0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    // a regression to a non-equi join here becomes O(V·E) per round at
    // scale. The round reads its propagate step through a pinned leaf,
    // whose plan does not print, so the propagate joins (edges ⋈ labels
    // on src, labels ⋈ nbrMin on id) are checked on their own plan.
    val prop = plan(graft.functions.Clusters.propagate(edges, labels))
    val p = plan(graft.functions.Clusters.roundStep(edges, labels))
    for ((step, s) <- Seq("propagate" -> prop, "round" -> p))
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"CC $step degraded to a non-equi join:\n$s")
    assert(prop.contains("BroadcastHashJoin") || prop.contains("SortMergeJoin") ||
      prop.contains("ShuffledHashJoin"), s"expected equi-joins in propagate:\n$prop")
    // the compress self-join reads prop twice: prop's propagate join
    // (its least(lbl, coalesce(nlbl, lbl)) projection, which the
    // propagate plan prints once) must not be planned once per branch;
    // exchange reuse alone would still plan it twice
    assert("coalesce\\(nlbl".r.findAllMatchIn(prop).length == 1,
      s"expected one propagate projection:\n$prop")
    assert("coalesce\\(nlbl".r.findAllMatchIn(p).length <= 1,
      s"prop computed once per self-join branch:\n$p")
  }

  test("q_interval joins by bin EQUALITY — no cartesian / nested-loop range join") {
    val p = plan(q("q_interval"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degraded to a pair explosion:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi-join on the bin:\n$p")
  }

  test("text_lm scores via a BROADCAST vocab join and a TakeOrdered vocab cut") {
    val p = plan(q("text_lm"))
    // the token->logprob lookup must never shuffle the exploded corpus
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    // top-V vocabulary selection must be a bounded TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut not TakeOrdered:\n$p")
    // (the 1-row corpus-total crossJoin legitimately plans as a broadcast
    // nested loop — only a true CartesianProduct would be a regression)
    assert(!p.contains("CartesianProduct"), s"cartesian in LM scoring:\n$p")
  }

  test("sim_knn scans the corpus without shuffling it (broadcast of queries only)") {
    val p = plan(q("sim_knn"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the query set:\n$p")
    // the corpus (streamed) side of the join must feed straight from the
    // scan — no Exchange between the join and its first child (shuffles
    // after the join only touch the tiny top-k result and are fine)
    val joinIdx = p.indexOf("NestedLoopJoin")
    val bcastIdx = p.indexOf("BroadcastExchange", joinIdx)
    assert(joinIdx >= 0 && bcastIdx > joinIdx, s"unexpected join shape:\n$p")
    val streamedSide = p.substring(joinIdx, bcastIdx)
    assert(!streamedSide.contains("Exchange "),
      s"corpus shuffled before the join:\n$streamedSide")
  }

  test("bitext: ONE cross scan feeds BOTH direction top-k cuts (no repeated scan)") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val xs = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xv"))
    val ys = emb.where(col("label") % 2 === 1)
      .select(col("vec_id").as("yid"), col("embedding").as("yv"))
    // the un-checkpointed cut — the exact subtree marginBitextPairs
    // materializes: both direction cuts must hang off a SINGLE
    // broadcast cross scan (r15 ran the |X|·|Y| scan once per direction)
    val pairs = xs.repartition(8).crossJoin(broadcast(ys))
      .select(col("xid"), col("yid"),
        graft.functions.GraftFunctions.cosineSim(col("xv"), col("yv")).as("cos"))
    val p = plan(graft.functions.Similarity.bitextCut(
      graft.functions.Similarity.doubleRoles(pairs), k = 4, scoreDp = 6))
    val nCross = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nCross == 1, s"expected exactly one cross scan, got $nCross:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bitext cut:\n$p")
    // r17: the per-(role, id) top-k is a bounded AGGREGATE cutting
    // map-side (partial top_k_by_score inside the scan stage) — the
    // former Sort→Window(GroupLimit) form sorted the whole candidate
    // stream per partition first (150s at sf10)
    assert(p.contains("top_k_by_score"), s"top-k cut not the bounded aggregate:\n$p")
    assert(p.contains("partial_top_k_by_score"),
      s"top-k aggregate must partial-aggregate map-side:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      s"the sort+window cut is back:\n$p")
  }

  test("bitext margin algebra downstream of the cut has zero cross scans") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val xs = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xv"))
    val ys = emb.where(col("label") % 2 === 1)
      .select(col("vec_id").as("yid"), col("embedding").as("yv"))
    val p = plan(graft.functions.Similarity.marginBitextPairs(
      xs, "xid", "xv", ys, "yid", "yv", k = 4, minMargin = 1.0,
      annPairThreshold = 0))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"margin algebra re-scans the matrix (must read the materialized cut):\n$p")
  }

  test("bitext ANN path: candidates come from a list-id EQUI-join, no cross matrix") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val xs = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xv"))
    val ys = emb.where(col("label") % 2 === 1)
      .select(col("vec_id").as("yid"), col("embedding").as("yv"))
    // the candidate-generation subtree the ANN path cuts: one list-id
    // EQUI-join carries the vector pairs; the only nested loop is the
    // tiny nLists-row centroid broadcast, never a vector-pair matrix
    val p = plan(graft.functions.Similarity.bitextCut(
      graft.functions.Similarity.annCandidates(xs, "xid", "xv",
        ys, "yid", "yv", nLists = 8, nProbe = 2, seed = 42L,
        trainFraction = 1.0, maxTrainRows = 1 << 16),
      k = 4, scoreDp = 6))
    assert(!p.contains("CartesianProduct"), s"cartesian in ANN bitext:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"candidates not an equi-join:\n$p")
    val nCross = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nCross <= 1, s"vector-pair matrix scan in ANN path ($nCross):\n$p")
  }

  test("sim_hard_negatives broadcasts the anchors, never shuffles the corpus") {
    val p = plan(q("sim_hard_negatives"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the anchor set:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in hard-negative mining:\n$p")
  }

  test("text_lm_bigram joins both count tables by BROADCAST with TakeOrdered cuts") {
    val p = plan(q("text_lm_bigram"))
    assert(p.contains("BroadcastHashJoin"), s"count-table joins not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"topV cut not TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bigram LM:\n$p")
  }

  test("snapshotDiff shuffles digests, never document bodies") {
    val a = docs.select("doc_id", "text")
    val b = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit("x")).as("text"))
    val d = graft.ops.DataPrep.snapshotDiff(a, b, "doc_id", Seq("text"))
    val exchanges = d.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected a shuffle for the full-outer join")
    exchanges.foreach { e =>
      assert(e.output.length <= 2,
        s"diff shuffle must carry (id, digest) only, got ${e.output.map(_.name)}")
      assert(!e.output.exists(_.name == "text"),
        s"document bodies crossed the shuffle: ${e.output.map(_.name)}")
    }
  }

  test("q_abc / q_movers: full-width rows never enter a single-partition exchange") {
    for (name <- Seq("q_abc", "q_movers")) {
      val plan = q(name).queryExecution.executedPlan
      val single = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 => e
      }
      // allowed single-partition traffic: the ops.Windows partition
      // summary (__w*) and 1-row scalar aggregates — never the entity
      // or brand data rows themselves
      single.foreach { e =>
        assert(!e.output.exists(a =>
          Set("o_custkey", "p_brand", "rev", "rev_early", "rev_late")
            .contains(a.name)),
          s"$name: data rows crossed a single-partition exchange: " +
            e.output.map(_.name).mkString(","))
      }
    }
  }

  test("chk_dup_rows shuffles the row digest only, never the payload") {
    val d = q("chk_dup_rows")
    val exchanges = d.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected the distinct-digest aggregate shuffle")
    exchanges.foreach { e =>
      assert(e.output.forall(a =>
        a.name.contains("__digest") || a.name.startsWith("n_") ||
          a.name.startsWith("count")),
        s"dup-rows shuffle must carry the digest/counts only, got " +
          e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(","))
      assert(!e.output.exists(a =>
        graft.sources.Sources.table(spark, sf0001, "lineitem")
          .columns.contains(a.name)),
        s"payload columns crossed the shuffle: ${e.output.map(_.name)}")
    }
  }

  test("DSIR scoring probes the weight table by BROADCAST") {
    val target = docs.where(org.apache.spark.sql.functions.col("lang") === "en")
    val raw = docs.where(org.apache.spark.sql.functions.col("lang") =!= "en")
    val w = graft.functions.Dsir.importanceWeights(target, raw, "text")
    val p = plan(graft.functions.Dsir.scoreDocs(raw, "doc_id", "text", w))
    assert(p.contains("BroadcastHashJoin"), s"weight join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"exploded corpus shuffled for the weight probe:\n$p")
  }

  test("text_boilerplate joins the survivor gram set by BROADCAST, never cartesian") {
    val p = plan(q("text_boilerplate"))
    // the per-position membership probe must broadcast the df-filtered
    // gram set — shuffling the exploded corpus to meet it would be the
    // 100 TB killer
    assert(p.contains("BroadcastHashJoin"), s"gram membership join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"exploded corpus shuffled/crossed for the gram probe:\n$p")
  }

  test("pipeline_chunk explodes in-scan: no Exchange below the Generate") {
    val p = plan(q("pipeline_chunk"))
    val gen = p.indexOf("Generate")
    assert(gen >= 0, s"expected a Generate (posexplode):\n$p")
    // everything below the generator must be scan-local; the only
    // shuffle allowed is the final presentation ORDER BY above it
    assert(!p.substring(gen).contains("Exchange"),
      s"chunking shuffled before the explode:\n${p.substring(gen)}")
  }

  test("pipeline_domain_cap cuts to k per group BEFORE the exchange (WindowGroupLimit)") {
    val p = plan(q("pipeline_domain_cap"))
    // a billion-row domain must never assemble: the rank<=k cut runs as a
    // per-partition top-k heap on both sides of the group-key exchange
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("pipeline_shuffle takes the order prefix without a full sort") {
    val p = plan(q("pipeline_shuffle"))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered for orderBy+limit:\n$p")
  }

  test("pipeline_quantile filters in-scan with a literal threshold: no join in the plan") {
    val p = plan(q("pipeline_quantile"))
    // the quantile is resolved to a LITERAL before the plan is built — a
    // threshold JOIN would shuffle the corpus against a 1-row side
    assert(!p.contains("Join"), s"quantile threshold must fold to a literal:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"only the summary agg may shuffle:\n$p")
  }

  test("round-8 operators: scan-shaped plans (no joins/exchanges where none belong)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // BM25 scoring is a pure scan projection: the df/stats jobs run at
    // call time; the RETURNED plan must have no join and no exchange
    val bm = plan(graft.functions.TextFunctions.bm25Scores(
      docs, "doc_id", "text", Seq("key", "value")))
    assert(!bm.contains("Join"), s"bm25 scoring must not join:\n$bm")
    assert(!bm.contains("Exchange"), s"bm25 scoring must not shuffle:\n$bm")
    // Bloom overlap fraction: in-scan probe, zero shuffles
    val sk = graft.functions.Decontam.buildGramBloom(docs, "text", 13, 1000L, 0.01)
    val ov = plan(graft.functions.Decontam.gramOverlapFractionBloom(
      docs, "doc_id", "text", 13, sk))
    assert(!ov.contains("Exchange") && !ov.contains("Join"),
      s"bloom overlap must stay in the scan:\n$ov")
    // containment candidates ride equi-joins only — never a cartesian
    val cp = plan(graft.functions.Dedup.containmentPairs(
      docs.limit(50), "doc_id", "text"))
    assert(!cp.contains("Cartesian") && !cp.contains("BroadcastNestedLoop"),
      s"containment must not go quadratic:\n$cp")
    // canonicalizeUrl / registrableDomain / charEntropy: scan-only
    val cu = plan(docs.select(
      graft.functions.TextFunctions.canonicalizeUrl(col("text")),
      graft.functions.TextFunctions.registrableDomain(col("source")),
      graft.functions.TextFunctions.charEntropy(col("text"))))
    assert(!cu.contains("Exchange"), s"URL/entropy ops must stay in the scan:\n$cu")
  }

  test("KLL sketch aggregation partial-aggregates map-side (blob exchange, not row exchange)") {
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val p = plan(ev.groupBy("event_type")
      .agg(graft.functions.Kll.sketchAgg(col("value")).as("qs")))
    // TypedImperativeAggregate → ObjectHashAggregate with a partial
    // stage before the exchange: the shuffle carries one compact sketch
    // blob per partition per group, never raw rows
    assert(p.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n$p")
    assert(p.contains("partial_kll_sketch_agg"),
      s"KLL must partial-aggregate map-side:\n$p")
  }

  test("bucketByQuantiles threshold job ships approx_percentile by DEFAULT (exact is audit-only)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // the default (corpus-scale) path must aggregate with the mergeable
    // approx_percentile sketch — exact percentile buffers every value in
    // the agg buffer, an OOM at 100 TB, and may only appear when a caller
    // explicitly opts into the oracle-audit path
    val approx = plan(graft.ops.DataPrep.quantileThresholdsDF(
      docs, col("n_chars"), Seq(1.0 / 3.0, 2.0 / 3.0)))
    assert(approx.contains("percentile_approx"), s"default must be approx_percentile:\n$approx")
    assert(approx.contains("partial_percentile_approx"),
      s"approx sketch must partial-aggregate map-side:\n$approx")
    val exact = plan(graft.ops.DataPrep.quantileThresholdsDF(
      docs, col("n_chars"), Seq(1.0 / 3.0, 2.0 / 3.0), exact = true))
    // r17: the exact path is value-at-rank selection over the
    // distinct-value count rollup (exactPercentileRow — bit-identical,
    // PercentileRankSpec) — NO percentile aggregate of either kind
    // appears; the cumulative-count rank walk does
    assert(!exact.contains("percentile"),
      s"exact=true must ship rank selection, not a percentile aggregate:\n$exact")
    assert(exact.contains("__cum"),
      s"exact path is rank selection over the cumulative count rollup:\n$exact")
    // the bucketed plan itself folds the thresholds as literals: per-row
    // math inside the scan, no join against a threshold row
    val bucketed = plan(graft.ops.DataPrep.bucketByQuantiles(
      docs, col("n_chars"), Seq(1.0 / 3.0, 2.0 / 3.0), Seq("tail", "middle", "head")))
    assert(!bucketed.contains("Join"), s"bucket assignment must fold thresholds to literals:\n$bucketed")
  }

  test("dedup_incremental anti-joins the corpus hash set without shuffling it twice") {
    val p = plan(q("dedup_incremental"))
    assert(p.contains("LeftAnti"), s"expected a LEFT ANTI join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"anti join must be hash-keyed:\n$p")
  }

  test("pipeline_mix samples inside the scan: Filter directly over the file scan") {
    val p = plan(q("pipeline_mix"))
    // the mix is a per-row predicate — no join against a rates table, no
    // shuffle before the summary aggregate's own exchange
    assert(!p.contains("Join"), s"mix must not join a rates side:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"mix pass should only shuffle for the summary agg:\n$p")
  }

  test("graph_triangles: wedge closure is hash-keyed, never a cartesian") {
    val p = plan(q("graph_triangles"))
    // the only nested-loop joins are the 1-row summary cross joins; the
    // wedge→edge closure must be an equi-join on the (least, greatest) key
    assert(!p.contains("CartesianProduct"), s"cartesian in triangle counting:\n$p")
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[least".r
      .findFirstIn(p).isDefined,
      s"wedge closure must hash-join on the canonical pair key:\n$p")
  }

  test("pipeline_reservoir: rank cut pushes below the shuffle (WindowGroupLimit)") {
    val p = plan(q("pipeline_reservoir"))
    assert(p.contains("WindowGroupLimit"),
      s"k-per-group sample must ride WindowGroupLimit:\n$p")
  }

  test("dedup_fuzzy: deletion-key candidates are an equi-join, never a cartesian") {
    val p = plan(q("dedup_fuzzy"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy candidates must equi-join on deletion keys:\n$p")
  }

  test("repair/stats wave: scan-shaped plans (joins/windows only where they belong)") {
    // winsorize: thresholds are folded literals — no join anywhere
    val pw = plan(q("pipeline_winsorize"))
    assert(!pw.contains("Join"), s"winsorize must not join a thresholds side:\n$pw")
    // impute: the per-group fill table joins by BROADCAST
    val pi = plan(q("pipeline_impute"))
    assert(pi.contains("BroadcastHashJoin"),
      s"imputation fill table must broadcast:\n$pi")
    // golden records: ONE aggregate, no joins, no windows
    val pg = plan(q("pipeline_golden"))
    assert(!pg.contains("Join") && !pg.contains("Window"),
      s"survivorship is a single aggregate:\n$pg")
    // SRM + t-test: single-scan conditional aggregates
    val ps = plan(q("q_srm"))
    assert(!ps.contains("Join") && !ps.contains("Window"),
      s"SRM is one conditional-sum scan:\n$ps")
    val pt = plan(q("q_ttest"))
    assert(!pt.contains("Join") && !pt.contains("Window"),
      s"Welch t-test is one conditional-sum scan:\n$pt")
    // survival/gini/skyline: equi-joins only, never a cartesian
    Seq("q_survival", "q_gini", "q_skyline").foreach { n =>
      val p = plan(q(n))
      assert(!p.contains("CartesianProduct"), s"cartesian in $n:\n$p")
    }
  }

  test("q_markov / q_cohort: event-grain work is bounded to one exchange family") {
    // transitionMatrix: exactly one event-grain exchange (the lead
    // window on user); the pair aggregate and probability window run on
    // |states|²-bounded data
    val pm = plan(q("q_markov"))
    assert(!pm.contains("Join"), s"markov needs no join at all:\n$pm")
    // cohortRetention: the only join is the narrow cohort-size self-join
    val pc = plan(q("q_cohort"))
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"),
      s"cohort size join must be hash-keyed:\n$pc")
  }

  test("q_star_join: every dimension broadcasts; only the fact pair shuffle-joins") {
    val p = plan(q("q_star_join"))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 4,
      s"customer/supplier/nation/region must broadcast ($nBroadcast):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"star join must stay hash-keyed:\n$p")
  }

  test("q_bloom_join: the Bloom probe filters the fact scan BEFORE the join") {
    val p = plan(q("q_bloom_join"))
    // the probe expression must sit in a Filter on the lineitem side,
    // upstream of the join — that is the entire point of the operator
    assert(p.contains("bloom_any_contain"),
      s"expected the Bloom probe in the plan:\n$p")
    val probeAt = p.indexOf("bloom_any_contain")
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && probeAt > joinAt,
      "probe must be DOWNSTREAM of the join operator in the plan tree " +
        s"(printed below it = executed before it):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pruned join must stay hash-keyed:\n$p")
  }

  test("round-9 operators: scan-shaped plans, windows only on tile tables") {
    // calibration: ONE corpus aggregate; windows ride the ≤bins table
    val pc = plan(q("q_calibration"))
    assert(!pc.contains("Join"), s"calibration needs no join:\n$pc")
    // FD audit: conditional aggregates only — no join, no window
    val pf = plan(q("chk_fd"))
    assert(!pf.contains("Join") && !pf.contains("Window"),
      s"FD audit is aggregation only:\n$pf")
    // l-diversity: same shape
    val pl = plan(q("chk_ldiv"))
    assert(!pl.contains("Join") && !pl.contains("Window"),
      s"l-diversity is aggregation only:\n$pl")
    // Theil-Sen: the pair builder is a keyed equi-join, never cartesian
    val pt = plan(q("q_theil_sen"))
    assert(!pt.contains("CartesianProduct") && !pt.contains("BroadcastNestedLoopJoin"),
      s"pair self-join must be hash-keyed:\n$pt")
    // burstiness: no cartesian; the (key,minute) burst table joins keyed
    val pb = plan(q("q_botscore"))
    assert(!pb.contains("CartesianProduct") && !pb.contains("BroadcastNestedLoopJoin"),
      s"burstiness joins must be hash-keyed:\n$pb")
    // inverted-index search: postings explode + count, no join at all
    val ps = plan(q("text_search"))
    assert(!ps.contains("Join"), s"conjunctive search needs no join:\n$ps")
  }

  test("round-11 operators: scan-shaped PCA, broadcast DB-index, keyed gram joins, partitioned rank windows") {
    // covariance: flat in-scan expansion + one aggregate; the slot→(i,j)
    // mapping and Σxᵢ reattachment are BROADCAST joins over ≤d²-row
    // frames — never a shuffle join, never a window
    val pc = plan(q("sim_pca_cov"))
    assert(!pc.contains("SortMergeJoin") && !pc.contains("ShuffledHashJoin")
        && !pc.contains("CartesianProduct") && !pc.contains("Window"),
      s"covariance joins must stay broadcast over bounded frames:\n$pc")
    // Mahalanobis scoring: stats ship as literals — no join; top-10 via
    // TakeOrdered, never a global sort
    val pm = plan(q("sim_outlier_maha"))
    assert(!pm.contains("Join"), s"maha scoring needs no join:\n$pm")
    assert(pm.contains("TakeOrderedAndProject"), s"top-k must TakeOrdered:\n$pm")
    // PCA projection: model as literals — map-only, zero exchanges
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val model = graft.functions.Pca.fit(emb, "embedding", 64, 2)
    val pp = plan(graft.functions.Pca.project(emb, "embedding", model, "p"))
    assert(!pp.contains("Exchange"), s"projection must not shuffle:\n$pp")
    // DB-index: member->centroid scatter join is broadcast (k rows)
    val pd = plan(q("sim_db_index"))
    assert(pd.contains("BroadcastHashJoin"),
      s"scatter join must broadcast the centroid table:\n$pd")
    assert(!pd.contains("CartesianProduct"),
      s"no cartesian anywhere (k-row centroid pairing broadcasts):\n$pd")
    // BLEU/chrF/KN: gram joins stay hash-keyed (1-row verdict crossJoins
    // compile to broadcast loops, never CartesianProduct)
    for (name <- Seq("eval_bleu", "eval_chrf", "text_kn_ppl")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"),
        s"$name gram joins must stay keyed:\n$p")
    }
    // per-slice AUC: every rank window is PARTITIONED by the slice key
    val pa = plan(q("eval_auc_by_source"))
    assert("Window \\[[^\\]]*\\], \\[__g".r.findFirstIn(pa).isDefined,
      s"rank window must partition by slice:\n$pa")
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(pa).isEmpty,
      s"no unpartitioned window over the corpus:\n$pa")
    // conformal: the global rank is the two-phase range-repartition form
    // (inside the checkpointed rank stage since the r14 boundary fix)
    val (_, sq) = planWithRank(q("eval_conformal"))
    assert(sq.exists(_.contains("rangepartitioning")),
      s"order statistic must ride the two-phase global rank:\n${sq.mkString}")
    // budget selection: same two-phase discipline, no single-data sort
    val (_, sb) = planWithRank(q("pipeline_budget_select"))
    assert(sb.exists(_.contains("rangepartitioning")),
      s"budget cut must ride the two-phase cumsum:\n${sb.mkString}")
    // pass@k / parity: pure rollups, no join at all
    for (name <- Seq("eval_pass_at_k", "eval_parity")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name is aggregation only:\n$p")
    }
    // SPRT: every window partitions by the key — never one reducer
    val psp = plan(q("q_sprt"))
    assert("Window \\[[^\\]]*\\], \\[__k".r.findFirstIn(psp).isDefined,
      s"SPRT walk must partition by key:\n$psp")
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(psp).isEmpty,
      s"no unpartitioned window over the events:\n$psp")
    // target encoding: the row join is hash-keyed; the only loop join is
    // the broadcast 1-row prior
    val pt = plan(q("pipeline_target_encode"))
    assert(!pt.contains("CartesianProduct"),
      s"encode join must stay keyed:\n$pt")
  }

  test("round-12 additions: scan-shaped stats, keyed ring join, fold windows partitioned") {
    // Kruskal-Wallis: the distinct-value CDF rides the two-phase range
    // exchange, never an unpartitioned window over the histogram
    val (pk, sk) = planWithRank(q("q_kruskal"))
    assert(sk.exists(_.contains("rangepartitioning")),
      s"KW rank CDF must range-repartition:\n${sk.mkString}")
    (pk +: sk).foreach { p =>
      assert("Window \\[[^\\]]*\\], \\[\\], \\[__v".r.findFirstIn(p).isEmpty,
        s"no unpartitioned window over the value histogram:\n$p")
    }
    // ANOVA / Brown-Forsythe: rollups + broadcast verdicts only — no
    // sort-merge join, no cartesian anywhere
    for (name <- Seq("q_anova", "q_levene")) {
      val p = plan(q(name))
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name must stay rollup+broadcast shaped:\n$p")
    }
    // ring negatives: two-phase rank + ONE hash equi-join on the ring
    // rank — never a cartesian pairing
    val (pr, sr) = planWithRank(q("sim_ring_negatives"))
    assert(sr.exists(_.contains("rangepartitioning")),
      s"ring rank must be the two-phase form:\n${sr.mkString}")
    (pr +: sr).foreach(p => assert(!p.contains("CartesianProduct"),
      s"ring join must stay keyed:\n$p"))
    // hashing features: explode + rollups, no join at all
    val ph = plan(q("pipeline_hash_features"))
    assert(!ph.contains("Join"), s"hashingTf is aggregation only:\n$ph")
    // CV AUC: every rank window partitions by the fold
    val pc = plan(q("eval_cv_auc"))
    assert("Window \\[[^\\]]*\\], \\[__g".r.findFirstIn(pc).isDefined,
      s"rank window must partition by fold:\n$pc")
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(pc).isEmpty,
      s"no unpartitioned window over the corpus:\n$pc")
    // cluster agreement: the contingency rollup is the only corpus
    // exchange; index algebra joins the CELL table (broadcast), never
    // a cartesian
    val pa = plan(q("sim_cluster_agreement"))
    assert(!pa.contains("CartesianProduct"),
      s"agreement algebra must stay broadcast-shaped:\n$pa")
  }

  test("round-12: AUC/Spearman/bestSplit histogram scans ride two-phase range exchanges") {
    // a continuous column has ~n distinct values, so these histogram CDFs
    // must never order through an unpartitioned window — only the
    // ≤numPartitions-row __wpid offset summary may (the Windows contract)
    for ((name, valCols) <- Seq("q_auc" -> Seq("__s"),
        "q_corr" -> Seq("__x", "__y"), "q_best_split" -> Seq("__v"))) {
      val (p, sub) = planWithRank(q(name))
      assert(sub.exists(_.contains("rangepartitioning")),
        s"$name must range-repartition its value histogram:\n${sub.mkString}")
      for (c <- valCols; pl <- p +: sub)
        assert(s"Window \\[[^\\]]*\\], \\[\\], \\[$c".r.findFirstIn(pl).isEmpty,
          s"$name: unpartitioned window over the $c histogram:\n$pl")
    }
  }

  test("round-13 operators: one-explode gram fusion, scan-only ROUGE-L, keyed agreement rollups") {
    // chrF after the r16 kernel restructure: the per-order clip is
    // computed in-row (ClippedCharGramMatches) — the ONLY explode left
    // is the maxN-row order spine over the 1-row stats aggregate, and
    // there are zero gram joins (the r13 form exploded every gram once
    // per side and joined once; the r11 form was 12 scans + 6 joins)
    val pc = plan(q("eval_chrf"))
    assert("Generate explode".r.findAllIn(pc).size == 1,
      s"chrF explodes only the 1-row order spine — grams stay in-scan:\n$pc")
    assert(!pc.contains("Join"), s"chrF carries no gram join:\n$pc")
    // ROUGE-L: the LCS DP runs in-scan — no join, no window, no
    // corpus-keyed exchange beyond the final 1-row aggregate
    val pr = plan(q("eval_rouge_l"))
    assert(!pr.contains("Join") && !pr.contains("Window"),
      s"rougeL is scan + 1-row aggregate only:\n$pr")
    // distinct-n stays one lean scan PER order (the fusion was
    // measured-rejected twice — see the ngramDiversity Scaladoc)
    val pd = plan(q("text_distinct_n"))
    assert("Generate explode".r.findAllIn(pd).size == 3,
      s"ngramDiversity keeps one lean explode per order:\n$pd")
    // Krippendorff: rollups + broadcast only — no sort-merge join, no
    // window, no cartesian
    val pk = plan(q("q_krippendorff"))
    assert(!pk.contains("SortMergeJoin") && !pk.contains("CartesianProduct")
      && !pk.contains("Window"),
      s"krippendorffAlpha must stay rollup+broadcast shaped:\n$pk")
    // semDedup replica window: the exchange/sort key LEADS with the
    // xxhash64 of the vector (cheap long compare), full vector second
    val ps = plan(graft.functions.Similarity.semDedupCells(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select("vec_id", "embedding"),
      "vec_id", "embedding", nClusters = 4, minCos = 0.99))
    // the hash is projected as _w0 and LEADS the window's partition
    // spec (the raw vector second)
    assert(ps.contains("xxhash64(embedding") &&
      "windowspecdefinition\\(_w0".r.findFirstIn(ps).isDefined,
      s"replica window must lead with the vector hash:\n$ps")
  }

  test("round-13 late additions: two-phase rank CDFs, keyed joins, scan-only WER") {
    // every new rank/CDF operator rides the two-phase range exchange —
    // no unpartitioned window over a (potentially corpus-sized)
    // distinct-value histogram
    for ((name, valCol) <- Seq("q_signed_rank" -> "__ad",
        "q_pettitt" -> "__v", "q_jonckheere" -> "__v",
        "q_wasserstein" -> "__v", "eval_avg_precision" -> "__s")) {
      val (p, sub) = planWithRank(q(name))
      assert(sub.exists(_.contains("rangepartitioning")),
        s"$name must range-repartition its histogram:\n${sub.mkString}")
      for (pl <- p +: sub) {
        assert(s"Window \\[[^\\]]*\\], \\[\\], \\[$valCol".r.findFirstIn(pl).isEmpty,
          s"$name: unpartitioned window over the $valCol histogram:\n$pl")
        assert(!pl.contains("CartesianProduct"), s"$name stays keyed:\n$pl")
      }
    }
    // DeLong: two score-keyed equi-joins, never a cartesian or an
    // item-keyed third join between the models
    val (pd, sd) = planWithRank(q("eval_delong"))
    (pd +: sd).foreach(p => assert(!p.contains("CartesianProduct"),
      s"delong joins stay keyed:\n$p"))
    assert(sd.exists(_.contains("rangepartitioning")),
      s"delong CDFs must be two-phase:\n${sd.mkString}")
    // WER: the Levenshtein DP runs in-scan — no join, no window
    val pw = plan(q("eval_wer"))
    assert(!pw.contains("Join") && !pw.contains("Window"),
      s"wer is scan + 1-row aggregate only:\n$pw")
    // partial correlation: ONE fused moment aggregate — no join at all
    val pp = plan(q("q_partial_corr"))
    assert(!pp.contains("Join"), s"partialCorr is aggregation only:\n$pp")
    // CMH / Cronbach / assortativity / ROUGE-N: keyed rollups and
    // joins only — no cartesian anywhere
    for (name <- Seq("q_cmh", "q_cronbach", "graph_assortativity",
        "eval_rouge_n")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name stays keyed:\n$p")
    }
    // Hopkins: the probe table BROADCASTS against the corpus (the n·2m
    // NN scan), never a shuffled or cartesian pairing
    val ph = plan(q("sim_hopkins"))
    assert(ph.contains("Broadcast"), s"hopkins probes must broadcast:\n$ph")
    assert(!ph.contains("CartesianProduct"),
      s"hopkins NN scan stays broadcast-shaped:\n$ph")
  }

  test("round-13 third-session additions: single-rollup tests, two-phase CDFs, no pairwise scans") {
    // one-aggregation significance/effect rows: no join in the plan at
    // all — the whole test is a scan + 1-row rollup (power sums)
    for (name <- Seq("q_jarque_bera", "eval_spiegelhalter", "q_power_mde",
        "q_tost", "dedup_capture_recapture", "eval_mcc",
        "eval_regression_metrics", "eval_ccc", "q_overdispersion",
        "q_rate_ratio")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name is scan + rollup only:\n$p")
    }
    // broadcast-only second passes (mean/prior/total shipped, never
    // shuffled back): theil, periodogram, per-source ECE stay
    // cartesian-free with no sort-merge join
    for (name <- Seq("q_theil_inequality", "q_periodogram",
        "eval_ece_by_source", "graph_reciprocity")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$name must not shuffle-join:\n$p")
    }
    // two-phase histogram CDFs (no unpartitioned corpus window)
    for (name <- Seq("q_yuen", "eval_auc_ci")) {
      val (p, sub) = planWithRank(q(name))
      assert(sub.exists(_.contains("rangepartitioning")),
        s"$name must range-repartition its histogram:\n${sub.mkString}")
      (p +: sub).foreach(pl => assert(!pl.contains("CartesianProduct"),
        s"$name stays keyed:\n$pl"))
    }
    // Dunn/Breslow-Day/event-study/EB-shrinkage: rollups + BOUNDED
    // (group/stratum/period/prior) join tables — never a corpus-sized
    // cartesian; Mann-Kendall's pair join is keyed
    for (name <- Seq("q_dunn", "q_breslow_day", "q_event_study",
        "q_eb_shrinkage", "q_mann_kendall", "q_kripp_ordinal", "q_page")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name stays keyed:\n$p")
    }
    // MMD: the feature map is IN-SCAN — exactly one corpus exchange
    // (the 64-row per-feature rollup); no join between embedding rows
    val pm = plan(q("sim_mmd"))
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("SortMergeJoin"),
      s"mmd must not pair embedding rows:\n$pm")
    // PPR: every contribution pass is a node-keyed equi-join
    val pp = plan(q("graph_ppr"))
    assert(!pp.contains("CartesianProduct"), s"ppr stays keyed:\n$pp")
  }
}
