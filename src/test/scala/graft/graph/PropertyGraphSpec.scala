package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PropertyGraphSpec extends SparkSpec {
  import spark.implicits._

  // tiny known graph: 1->2, 2->1, 2->3, 1->3, 4->1
  lazy val v = Seq((1L, "Person"), (2L, "Person"), (3L, "City"), (4L, "Person")).toDF("id", "label")
  lazy val e = Seq((1L, 2L, "KNOWS"), (2L, 1L, "KNOWS"), (2L, 3L, "LIVES"), (1L, 3L, "LIVES"), (4L, 1L, "KNOWS"))
    .toDF("src", "dst", "label")
  lazy val g = PropertyGraph(v, e)

  test("pattern with labels") {
    val rows = g.pattern("(a:Person)-[:KNOWS]->(b:Person)-[:LIVES]->(c:City)")
      .orderBy("a").as[(Long, Long, Long)].collect()
    assert(rows.toSet === Set((1L, 2L, 3L), (2L, 1L, 3L), (4L, 1L, 3L)))
  }

  test("bidirectional pattern keeps variable orientation (unionByName regression)") {
    val rows = g.pattern("(a)-[:KNOWS]-(b)").as[(Long, Long)].collect()
    // edge 4->1 must yield both (4,1) and (1,4)
    assert(rows.count(_ == (4L, 1L)) === 1)
    assert(rows.count(_ == (1L, 4L)) === 1)
  }

  test("self-loop pattern") {
    val withLoop = PropertyGraph(v, e.union(Seq((2L, 2L, "SELF")).toDF("src", "dst", "label")))
    assert(withLoop.pattern("(a)-[]->(a)").as[Long].collect().toSeq === Seq(2L))
  }

  test("selective multi-bag pattern runs Yannakakis semijoin sweeps; unconstrained does not") {
    // tailed triangle -> two GHD bags (cyclic core + tail). Labeled
    // (selective) -> left_semi sweeps in the plan; unconstrained -> no
    // sweeps (measured pure overhead on dense unfiltered patterns).
    val cyc = Seq((1L, 2L, "KNOWS"), (2L, 3L, "KNOWS"), (3L, 1L, "KNOWS"), (3L, 5L, "KNOWS"))
      .toDF("src", "dst", "label")
    val gc = PropertyGraph(v.union(Seq((5L, "Person")).toDF("id", "label")), cyc)
    val pat = "(a)-[:KNOWS]->(b)-[:KNOWS]->(c); (c)-[:KNOWS]->(a); (c)-[:KNOWS]->(d)"
    val labeled = gc.pattern(pat)
    assert(labeled.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    // rotations (1,2,3)->d in {1,5}; (2,3,1)->d=2; (3,1,2)->d=3
    assert(labeled.count() === 4)
    val plain = gc.pattern("(a)-[]->(b)-[]->(c); (c)-[]->(a); (c)-[]->(d)")
    assert(!plain.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(plain.count() === 4)
  }

  test("pattern(wcoj=true) routes the cyclic core through LeapFrog with set semantics") {
    // triangle 1->2->3->1 plus a PARALLEL copy of 1->2 (different label):
    // wcoj dedups edge copies, so the triangle counts once per binding
    val cyc = Seq((1L, 2L, "A"), (1L, 2L, "B"), (2L, 3L, "A"), (3L, 1L, "A"))
      .toDF("src", "dst", "label")
    val gc = PropertyGraph(v, cyc)
    val tri = "(a)-[]->(b)-[]->(c); (c)-[]->(a)"
    val viaWcoj = gc.pattern(tri, wcoj = true)
    assert(viaWcoj.queryExecution.executedPlan.toString.contains("LeapFrogJoin"))
    val bindings = viaWcoj.as[(Long, Long, Long)].collect().toSet
    assert(bindings === Set((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)))
    // binary path keeps bag semantics: the parallel edge doubles the
    // bindings that use edge (1,2)
    val viaBinary = gc.pattern(tri).as[(Long, Long, Long)].collect()
    assert(viaBinary.count(_ == (1L, 2L, 3L)) === 2)
    assert(viaBinary.count(_ == (2L, 3L, 1L)) === 2) // same cycle, rotated start
  }

  test("subgraph filters vertices and induced edges") {
    val sub = g.subgraph(Some("label = 'Person'"), None)
    assert(sub.node().count() === 3)
    // edges into City 3 are dropped
    assert(sub.edge().select("src", "dst").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L), (2L, 1L), (4L, 1L)))
  }

  test("triangleCount on known cycle") {
    // graph with one directed 3-cycle: 1->2->3->1 plus noise edge
    val te = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    assert(PropertyGraph.fromEdges(te).triangleCount() === 1L)
  }

  test("pageRank: source-only node gets base rank, sink accumulates") {
    val pr = g.pageRank(5).as[(Long, Double)].collect().toMap
    assert(math.abs(pr(4L) - 0.15) < 1e-12) // no in-edges -> base term only
    assert(pr(3L) > pr(4L))                 // node 3 receives from 1 and 2
    assert(pr.values.forall(_ >= 0.15))
  }

  test("connectedComponents labels two separate components") {
    val ce = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = PropertyGraph.fromEdges(ce).connectedComponents()
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) === 1L && cc(2L) === 1L && cc(3L) === 1L)
    assert(cc(10L) === 10L && cc(11L) === 10L)
  }

  test("connectedComponents pointer-jump variant produces identical labels") {
    // a 6-long chain plus an isolated pair: jumping compresses the chain
    val ce = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("src", "dst")
    val g2 = PropertyGraph.fromEdges(ce)
    val plain = g2.connectedComponents(pointerJump = false).as[(Long, Long)].collect().toMap
    val jumped = g2.connectedComponents(pointerJump = true).as[(Long, Long)].collect().toMap
    assert(plain === jumped)
    assert(plain(6L) === 1L && plain(11L) === 10L)
  }

  test("pointer jumping (the default) converges in logarithmic rounds on a path graph") {
    // 48-node directed path: plain hash-min needs ~diameter rounds, while
    // label(label(v)) composition roughly halves the remaining distance each
    // round — every round is a shuffle barrier, so this IS the scale story
    val chain = (1L until 32L).map(i => (i, i + 1)).toDF("src", "dst")
    val g = PropertyGraph.fromEdges(chain)
    val (ccJump, jump) = graft.QueryTrace.run(spark)(
      g.connectedComponents(maxIterations = 40).as[(Long, Long)].collect().toMap)
    val (ccPlain, plain) = graft.QueryTrace.run(spark)(
      g.connectedComponents(maxIterations = 40, pointerJump = false)
        .as[(Long, Long)].collect().toMap)
    assert(ccJump === ccPlain)
    assert(plain("rounds").toInt > 15)  // O(diameter)
    assert(jump("rounds").toInt <= 10)  // O(log diameter)
  }

  test("iterative graph loops release prior rounds' checkpoint blocks") {
    // several rounds of each loop (20+ of plain hash-min on a path graph):
    // without per-round release, every round's checkpoint stays in the
    // block store for the application lifetime
    val chain = PropertyGraph.fromEdges((1L until 32L).map(i => (i, i + 1)).toDF("src", "dst"))
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => chain.connectedComponents(maxIterations = 40, pointerJump = false)),
      "pageRank" -> (() => chain.pageRank(6)),
      "personalizedPageRank" -> (() => chain.personalizedPageRank(6, Seq(1L))),
      "sssp" -> (() => chain.sssp(lit(1L))),
      "labelPropagation" -> (() => chain.labelPropagation(6)),
      "kCore" -> (() => chain.kCore(2, maxRounds = 40)),
      "messagePassing" -> (() => chain.messagePassing("1", "sum(msg)", "coalesce(newState, 0)", Some("0"), round = 6)))
    for ((name, loop) <- loops) {
      // the final round's checkpoint (the returned frame's backing) may remain
      val (rows, trace) = releases(name, keep = 1) {
        graft.QueryTrace.run(spark)(loop().collect().length)
      }
      assert(rows === (if (name == "kCore") 0 else 32), name)
      val rounds = trace("rounds").toInt
      assert(rounds >= 6, s"$name ran $rounds rounds")
    }
  }

  test("trianglesPerVertex counts cycle membership per vertex") {
    // one 3-cycle {1,2,3} plus a chord 1->4 that is in no cycle
    val te = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val r = PropertyGraph.fromEdges(te).trianglesPerVertex()
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("sssp unit distances") {
    val se = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("src", "dst")
    val d = PropertyGraph.fromEdges(se).sssp(lit(0L)).as[(Long, Double)].collect().toMap
    assert(d(0L) === 0.0 && d(1L) === 1.0 && d(2L) === 2.0 && d(3L) === 1.0)
  }

  test("patternView exposes matches to SQL (MATCH-in-FROM capability)") {
    g.patternView("pv_knows", "(a)-[:KNOWS]->(b)")
    assert(spark.sql("SELECT count(*) AS n FROM pv_knows").head().getLong(0) === 3L)
  }

  test("messagePassing single round computes in-degree") {
    val st = g.messagePassing("1", "sum(msg)", "coalesce(newState, 0)", Some("0"), round = 1)
      .as[(Long, Long)].collect().toMap
    assert(st === Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
  }

  test("labelPropagation separates two dense communities joined by one bridge") {
    // K4 on {1..4}, K4 on {11..14}, one bridge 4—11
    def k4(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (k4(Seq(1L, 2L, 3L, 4L)) ++ k4(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L)))
      .toDF("src", "dst")
    val out = PropertyGraph.fromEdges(e).labelPropagation(rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(out).toSet.size === 1, "left clique fragmented")
    assert(Seq(12L, 13L, 14L).map(out).toSet.size === 1, "right clique fragmented")
    assert(out(1L) !== out(12L), "bridge merged the two communities")
  }

  test("kCore peels cascading tails down to the clique core") {
    // K4 core {1..4} with a path 4—5—6—7 hanging off: peeling deg<2
    // removes 7, then 6, then 5 (CASCADING — each removal exposes the
    // next), leaving the 2-core = the clique
    val e = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
      .toDF("src", "dst")
      .union(Seq((4L, 5L), (5L, 6L), (6L, 7L)).toDF("src", "dst"))
    val core2 = PropertyGraph.fromEdges(e).kCore(2).as[Long].collect().sorted.toSeq
    assert(core2 === Seq(1L, 2L, 3L, 4L))
    // 3-core: still the clique (each clique vertex has degree 3 inside it)
    assert(PropertyGraph.fromEdges(e).kCore(3).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    // 4-core: empty (K4 has max internal degree 3)
    assert(PropertyGraph.fromEdges(e).kCore(4).count() === 0L)
  }

  test("kCore fails loudly instead of returning a non-converged superset") {
    // a 12-vertex path peels two endpoints per round: 5 rounds to empty
    // under k=2; a cap of 2 must throw, not silently return extra vertices
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    // the failed run's last round is released, not left to a later GC
    val e = releases("a failed kCore") {
      intercept[IllegalStateException] {
        PropertyGraph.fromEdges(path).kCore(2, maxRounds = 2)
      }
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the true (empty) 2-core comes back
    assert(PropertyGraph.fromEdges(path).kCore(2).count() === 0L)
  }

  test("labelPropagation is deterministic under repartitioning; isolated vertex keeps its label") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val v = Seq(1L, 2L, 3L, 99L).toDF("id") // 99 isolated
    val g0 = PropertyGraph(v, e)
    val a = g0.labelPropagation(3).as[(Long, Long)].collect().sorted.toSeq
    val b = PropertyGraph(v.repartition(5), e.repartition(7))
      .labelPropagation(3).as[(Long, Long)].collect().sorted.toSeq
    assert(a === b)
    assert(a.toMap.apply(99L) === 99L)
  }
}

class PersonalizedPageRankSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col
  import graft.graph.PropertyGraph

  test("mass concentrates at and near the seed; disconnected nodes stay at 0") {
    // chain 1 -> 2 -> 3, isolated pair 8 -> 9; seed {1}
    val g = PropertyGraph.fromEdges(
      Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst"))
    val r = g.personalizedPageRank(3, sources = Seq(1L))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - 0.15) < 1e-12) // teleport only: nothing points at the seed
    assert(r(2L) > r(3L))        // proximity decays along the chain
    assert(r(8L) === 0.0 && r(9L) === 0.0) // unreachable from the seed
  }

  test("multiple seeds split the teleport mass; uniform pageRank differs") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val g = PropertyGraph.fromEdges(edges)
    val ppr = g.personalizedPageRank(3, sources = Seq(1L, 3L))
      .as[(Long, Double)].collect().toMap
    val pr = g.pageRank(3).as[(Long, Double)].collect().toMap
    assert(ppr(1L) > ppr(2L)) // seed beats its non-seed neighbor
    assert(ppr(3L) > 0.0)
    // uniform PR gives node 2 baseline teleport mass; PPR does not
    assert(pr(2L) > 0.15 && ppr(2L) < pr(2L))
  }
}
