package graft

import graft.functions.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSuite {

  test("HITS: hand-computed two-iteration hub/authority scores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // h links both authorities, x links one; a1 is the stronger authority
    val edges = Seq(("h", "a1"), ("h", "a2"), ("x", "a1")).toDF("s", "d")
    val out = graft.functions.Graph.hits(edges, "s", "d", iterations = 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // iter2 closed form: auth = (5, 3)/sqrt(34) on (a1, a2); hub = (8, 5)/sqrt(89)
    assert(math.abs(out("a1")._2 - 5 / math.sqrt(34)) < 1e-12)
    assert(math.abs(out("a2")._2 - 3 / math.sqrt(34)) < 1e-12)
    assert(math.abs(out("h")._1 - 8 / math.sqrt(89)) < 1e-12)
    assert(math.abs(out("x")._1 - 5 / math.sqrt(89)) < 1e-12)
    // pure hubs have zero authority and vice versa
    assert(out("h")._2 == 0.0 && out("x")._2 == 0.0)
    assert(out("a1")._1 == 0.0 && out("a2")._1 == 0.0)
    // L2 norms are 1 per score vector
    val sq = out.values.toSeq
    assert(math.abs(sq.map(v => v._1 * v._1).sum - 1.0) < 1e-9)
    assert(math.abs(sq.map(v => v._2 * v._2).sum - 1.0) < 1e-9)
  }
  import spark.implicits._

  test("reciprocity: dyad census hand-counted; self-loops and duplicates ignored") {
    // a<->b mutual; a->c, c->d one-way; self-loop and a duplicate edge
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"),
      ("a", "c"), ("x", "x")).toDF("s", "d")
    val r = Graph.reciprocity(edges, "s", "d").head()
    assert(r.getLong(0) == 4, s"$r")  // distinct non-loop edges
    assert(r.getLong(1) == 3 && r.getLong(2) == 1 && r.getLong(3) == 2,
      s"$r")
    assert(r.getDouble(4) == 0.5, s"$r")
    // a pure DAG has zero reciprocity
    val dag = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "d")
    val rd = Graph.reciprocity(dag, "s", "d").head()
    assert(rd.getLong(2) == 0 && rd.getDouble(4) == 0.0, s"$rd")
  }

  test("personalizedPageRank: two hand-computed iterations; mass conserved; bad seeds fail") {
    // a->b, b->{a,c}, c dangling; seed = a only
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("s", "d")
    val out = Graph.personalizedPageRank(edges, "s", "d", Seq("a"),
        iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // iter1: a=.15, b=.85, c=0; iter2: a=.15+.85*.425, b=.85*.15, c=.85*.425
    assert(math.abs(out("a") - 0.51125) < 1e-12, s"$out")
    assert(math.abs(out("b") - 0.1275) < 1e-12, s"$out")
    assert(math.abs(out("c") - 0.36125) < 1e-12, s"$out")
    // nothing dangled into the void: total mass stays 1
    assert(math.abs(out.values.sum - 1.0) < 1e-12, s"$out")
    // a seed set absent from the graph fails loudly
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, "s", "d", Seq("zz"), iterations = 1)
    }
    assert(e.getMessage.contains("seeds"), e.getMessage)
  }

  test("pageRank matches the hand-computed first iteration on a 3-node graph") {
    // A→B, A→C, B→A; C dangling. n=3, r0=1/3 each, S=r(C)=1/3.
    // r1(A) = .05 + .85*(r(B)/1 + S/3) = .05 + .85*(1/3 + 1/9)
    // r1(B) = r1(C) = .05 + .85*(r(A)/2 + S/3) = .05 + .85*(1/6 + 1/9)
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "A")).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("A") - (0.05 + 0.85 * (1.0 / 3 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r("B") - (0.05 + 0.85 * (1.0 / 6 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r("C") - r("B")) < 1e-12)
  }

  test("pageRank conserves mass across iterations (dangling redistribution)") {
    // Without the dangling term, C's mass would leak each round.
    val edges = Seq(("A", "B"), ("B", "C"), ("A", "C")).toDF("src", "dst")
    for (iters <- Seq(1, 3, 5)) {
      val total = Graph.pageRank(edges, "src", "dst", iterations = iters)
        .agg(sum("r")).head.getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9, s"mass after $iters iters: $total")
    }
  }

  test("pageRank favors the node every other node points to") {
    val edges = Seq(("A", "Z"), ("B", "Z"), ("C", "Z"), ("Z", "A")).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("Z") > r("A") && r("A") > r("B"))
    assert(math.abs(r("B") - r("C")) < 1e-12)
  }

  test("wordCooccurrenceEdges: dedup, self-pair drop, short-doc edge cases") {
    val docs = Seq(
      "a b a b",   // duplicate (a,b)/(b,a) pairs collapse to two edges
      "c c",       // self-pair dropped
      "d",         // single word: no edges
      ""           // empty text: no edges
    ).toDF("text")
    val e = Graph.wordCooccurrenceEdges(docs, "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e === Set(("a", "b"), ("b", "a")))
  }

  test("pageRank validates its parameters") {
    val edges = Seq(("A", "B")).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(edges, "src", "dst", iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(edges, "src", "dst", damping = 1.0))
  }

  test("kCore: layer-by-layer peeling, fixpoint, round cap, edge cases") {
    import spark.implicits._
    // triangle {a,b,c} + pendant chain c-d-e: 2-core = the triangle
    val g = Seq(("a","b"), ("b","c"), ("c","a"), ("c","d"), ("d","e")).toDF("src", "dst")
    val core2 = Graph.kCore(g, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 == Map("a" -> 2L, "b" -> 2L, "c" -> 2L),
      s"2-core must peel the chain layer by layer: $core2")
    // k=1 keeps every non-isolated node; k above max degree empties
    assert(Graph.kCore(g, "src", "dst", 1).count() == 5)
    assert(Graph.kCore(g, "src", "dst", 3).count() == 0)
    // a path peels one layer per round: cap must trip on a tight budget
    val path = (0 until 30).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    intercept[IllegalArgumentException](
      Graph.kCore(path, "src", "dst", k = 2, maxRounds = 3))
    // ...and the same graph converges within a generous budget (empty 2-core)
    assert(Graph.kCore(path, "src", "dst", k = 2, maxRounds = 40).count() == 0)
  }

  test("triangleStats: hand-computed counts; direction/dup/self-loop normalization") {
    import spark.implicits._
    // K3 on {a,b,c} + pendant d + isolated-by-self-loop e; duplicate and
    // reversed edges collapse. Triangles: 1. Degrees a:3 b:2 c:2 d:1 →
    // wedges = 3+1+1+0 = 5. Clustering = 3·1/5.
    val edges = Seq(("a","b"), ("b","a"), ("b","c"), ("a","c"), ("a","c"),
                    ("a","d"), ("e","e")).toDF("src", "dst")
    val r = Graph.triangleStats(edges, "src", "dst").head()
    assert(r.getLong(0) == 4, s"n_nodes ${r.getLong(0)}")       // a b c d
    assert(r.getLong(1) == 4, s"n_edges ${r.getLong(1)}")       // ab bc ac ad
    assert(r.getLong(2) == 1, s"n_triangles ${r.getLong(2)}")
    assert(r.getLong(3) == 5, s"n_wedges ${r.getLong(3)}")
    assert(r.getDouble(4) == 0.6)
    // triangle-free graph: star K1,3 has wedges but zero triangles
    val star = Seq(("h","x"), ("h","y"), ("h","z")).toDF("src", "dst")
    val s2 = Graph.triangleStats(star, "src", "dst").head()
    assert(s2.getLong(2) == 0 && s2.getLong(3) == 3 && s2.getDouble(4) == 0.0)
    // two disjoint triangles count independently
    val two = Seq(("a","b"), ("b","c"), ("c","a"),
                  ("x","y"), ("y","z"), ("z","x")).toDF("src", "dst")
    assert(Graph.triangleStats(two, "src", "dst").head().getLong(2) == 2)
  }

  test("labelPropagation: splits two bridged cliques where CC would merge them") {
    import spark.implicits._
    // cliques {a0..a3} and {b0..b3} joined by one bridge a3–b0: after 2
    // rounds each clique must settle on its own min label — the sparse
    // cut survives, unlike connected components (one component here).
    def clique(p: String) = for {
      i <- 0 to 3; j <- 0 to 3 if i < j
    } yield (s"$p$i", s"$p$j")
    val edges = (clique("a") ++ clique("b") :+ (("a3", "b0")))
      .toDF("src", "dst")
    val m = Graph.labelPropagation(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == 8)
    (0 to 3).foreach { i =>
      assert(m(s"a$i") == "a0", s"a$i → ${m(s"a$i")}")
      assert(m(s"b$i") == "b0", s"b$i → ${m(s"b$i")}")
    }
    // determinism: same input, same labels on a re-run
    val m2 = Graph.labelPropagation(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m2 == m)
  }

  test("adamicAdar: hand-computed scores, existing edges excluded, hub cap") {
    import spark.implicits._
    // square a-b-c-d-a plus diagonal a-c: predicted pair is (b,d) with
    // common neighbors a and c, both degree 3 → score 2/ln(3). Pair
    // (a,c) is an EXISTING edge and must not appear.
    val edges = Seq(("a","b"), ("b","c"), ("c","d"), ("d","a"), ("a","c"))
      .toDF("src", "dst")
    val r = Graph.adamicAdar(edges, "src", "dst", k = 10).collect()
    assert(r.length == 1, s"only (b,d) is predictable: ${r.mkString(";")}")
    assert(r(0).getString(0) == "b" && r(0).getString(1) == "d")
    val expect = BigDecimal(2.0 / math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(0).getDouble(2) == expect && r(0).getLong(3) == 2L)
    // pivot cap: with maxPivotDegree = 2 both degree-3 pivots are
    // excluded and nothing is predicted
    assert(Graph.adamicAdar(edges, "src", "dst", 10, maxPivotDegree = 2)
      .count() == 0)
  }

  test("modularity: hand-computed two-triangle bridge; perfect split beats merged") {
    import spark.implicits._
    // triangles {a,b,c} and {d,e,f} + bridge c–d: m = 7; each community
    // has 3 intra edges and degree mass 7 → Q_c = 3/7 − (7/14)² = 5/28
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("src", "dst")
    val split = Seq(("a", "x"), ("b", "x"), ("c", "x"),
      ("d", "y"), ("e", "y"), ("f", "y")).toDF("id", "community")
    val r = Graph.modularity(edges, "src", "dst", split, "id", "community")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    val qc = math.BigDecimal(3.0 / 7 - math.pow(7.0 / 14, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r("x") == ((3L, 7L, qc)) && r("y") == ((3L, 7L, qc)), s"$r")
    // one merged community: Q = m/m − (2m/2m)² = 0 — worse than the split
    val merged = split.select(col("id"), lit("z").as("community"))
    val rm = Graph.modularity(edges, "src", "dst", merged, "id", "community")
      .collect()
    assert(rm.length == 1 && rm(0).getDouble(3) == 0.0, rm.mkString(","))
    assert(2 * qc > 0.0, "the true split must score above the merged baseline")
  }
  test("degreeAssortativity: star is -1; regular graph NULL; dups/self-loops normalized") {
    import spark.implicits._
    // star K1,3: center degree 3, leaves 1 -> perfectly disassortative
    val star = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"))
      .toDF("src", "dst")
    val r = graft.functions.Graph
      .degreeAssortativity(star, "src", "dst").head()
    assert(r.getLong(0) == 3 && r.getDouble(1) == -1.0, s"$r")
    // 4-cycle: every degree 2 -> zero variance -> NULL
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val rc = graft.functions.Graph
      .degreeAssortativity(cyc, "src", "dst").head()
    assert(rc.getLong(0) == 4 && rc.isNullAt(1), s"$rc")
    // duplicate directions and self-loops collapse before degrees
    val messy = Seq(("c", "l1"), ("l1", "c"), ("c", "c"), ("c", "l2"),
      ("c", "l3")).toDF("src", "dst")
    val rm = graft.functions.Graph
      .degreeAssortativity(messy, "src", "dst").head()
    assert(rm.getLong(0) == 3 && rm.getDouble(1) == -1.0, s"$rm")
  }

  test("an edge with a NULL endpoint names no node: ranks and scores keep their norms") {
    // with the NULL endpoints dropped the graph is the 3-cycle a→b→c→a
    val edges = Seq[(String, String)](("a", "b"), ("b", "c"), ("c", "a"),
      ("a", null), (null, "b")).toDF("s", "d")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    // a cycle keeps PageRank's uniform start: 1/3 each, summing to 1
    val pr = scores(Graph.pageRank(edges, "s", "d", iterations = 2))
    assert(pr.keySet == Set(Some("a"), Some("b"), Some("c")), s"$pr")
    pr.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-12, s"$pr"))
    // seed a: iter1 a=.15 b=.85 c=0; iter2 a=.15 b=.85·.15 c=.85·.85
    val ppr = scores(Graph.personalizedPageRank(edges, "s", "d", Seq("a"), iterations = 2))
    assert(ppr.keySet == Set(Some("a"), Some("b"), Some("c")), s"$ppr")
    assert(math.abs(ppr(Some("a")) - 0.15) < 1e-12 &&
      math.abs(ppr(Some("b")) - 0.1275) < 1e-12 &&
      math.abs(ppr(Some("c")) - 0.7225) < 1e-12, s"$ppr")
    // every node is one hub and one authority: 1/√3 each, L2 norm 1
    val h = Graph.hits(edges, "s", "d", iterations = 1).collect()
    assert(h.map(r => Option(r.getString(0))).toSet == Set(Some("a"), Some("b"), Some("c")),
      h.mkString(","))
    h.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1 / math.sqrt(3)) < 1e-12 &&
        math.abs(r.getDouble(2) - 1 / math.sqrt(3)) < 1e-12, h.mkString(","))
    }
  }

  test("every operator on an empty edge list: an empty frame or its zero row") {
    val e = Seq.empty[(String, String)].toDF("src", "dst")
    def empty(df: org.apache.spark.sql.DataFrame, cols: String*): Unit = {
      assert(df.columns.toSeq == cols, df.columns.mkString(","))
      assert(df.count() == 0, df.collect().mkString(","))
    }
    empty(Graph.wordCooccurrenceEdges(Seq.empty[String].toDF("text"), "text"), "src", "dst")
    empty(Graph.pageRank(e, "src", "dst"), "id", "r")
    empty(Graph.hits(e, "src", "dst"), "id", "hub", "auth")
    empty(Graph.kCore(e, "src", "dst", k = 1), "id", "core_degree")
    empty(Graph.labelPropagation(e, "src", "dst", iterations = 2), "id", "community")
    empty(Graph.adamicAdar(e, "src", "dst", k = 5), "u", "v", "aa_score", "n_common")
    empty(Graph.modularity(e, "src", "dst", Seq.empty[(String, String)].toDF("id", "c"),
      "id", "c"), "community", "intra_edges", "degree_mass", "q_c")
    // no node can be a seed
    intercept[IllegalArgumentException](Graph.personalizedPageRank(e, "src", "dst", Seq("a")))
    // the 1-row summaries count zero; reciprocity and assortativity are
    // undefined (NULL), the clustering coefficient of no wedges is 0
    val rc = Graph.reciprocity(e, "src", "dst").collect()
    assert(rc.map(_.toSeq).toSeq == Seq(Seq[Any](0L, 0L, 0L, 0L, null)), rc.mkString(","))
    val tri = Graph.triangleStats(e, "src", "dst").collect()
    assert(tri.map(_.toSeq).toSeq == Seq(Seq[Any](0L, 0L, 0L, 0L, 0.0)), tri.mkString(","))
    val da = Graph.degreeAssortativity(e, "src", "dst").collect()
    assert(da.map(_.toSeq).toSeq == Seq(Seq[Any](0L, null)), da.mkString(","))
  }
}
