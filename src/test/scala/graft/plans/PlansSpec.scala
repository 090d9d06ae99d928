package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class FractionalEdgeCoverSpec extends AnyFunSuite {

  test("triangle cover number is 1.5") {
    val (rho, x) = FractionalEdgeCover.solve(3, Seq(Set(0, 1), Set(1, 2), Set(0, 2)))
    assert(math.abs(rho - 1.5) < 1e-9)
    assert(x.forall(w => w >= -1e-9))
    assert(math.abs(x.sum - 1.5) < 1e-9)
  }

  test("path A-B-C needs ρ* = 2 vertices... edges AB,BC cover with 1 each end") {
    val (rho, _) = FractionalEdgeCover.solve(3, Seq(Set(0, 1), Set(1, 2)))
    assert(math.abs(rho - 2.0) < 1e-9)
  }

  test("single edge covers itself with weight 1") {
    val (rho, x) = FractionalEdgeCover.solve(2, Seq(Set(0, 1)))
    assert(math.abs(rho - 1.0) < 1e-9 && math.abs(x(0) - 1.0) < 1e-9)
  }

  test("5-cycle cover number is 2.5") {
    val edges = (0 until 5).map(i => Set(i, (i + 1) % 5))
    val (rho, _) = FractionalEdgeCover.solve(5, edges)
    assert(math.abs(rho - 2.5) < 1e-9)
  }

  test("uncoverable vertex rejected") {
    intercept[IllegalArgumentException](FractionalEdgeCover.solve(2, Seq(Set(0))))
  }

  test("agmBound: triangle is n^1.5, 4-cycle is n^2, path is product of ends") {
    val tri = FractionalEdgeCover.agmBound(Set("a", "b", "c"),
      Seq((Set("a", "b"), 100L), (Set("b", "c"), 100L), (Set("a", "c"), 100L)))
    assert(math.abs(tri - math.pow(100, 1.5)) < 1e-6)
    val cyc = FractionalEdgeCover.agmBound(Set("a", "b", "c", "d"),
      Seq((Set("a", "b"), 50L), (Set("b", "c"), 50L),
        (Set("c", "d"), 50L), (Set("a", "d"), 50L)))
    assert(math.abs(cyc - 2500.0) < 1e-6)
    // path AB-BC: cover AB=1, BC=1 → |AB|·|BC|
    val path = FractionalEdgeCover.agmBound(Set("a", "b", "c"),
      Seq((Set("a", "b"), 10L), (Set("b", "c"), 30L)))
    assert(math.abs(path - 300.0) < 1e-6)
    // asymmetric triangle: one tiny relation draws cover weight — the bound
    // must be ≤ the symmetric estimate with the large count
    val asym = FractionalEdgeCover.agmBound(Set("a", "b", "c"),
      Seq((Set("a", "b"), 100L), (Set("b", "c"), 100L), (Set("a", "c"), 4L)))
    assert(asym <= math.pow(100, 1.5) + 1e-6)
    // edges outside the bag are ignored; empty counts floor at 1
    val restricted = FractionalEdgeCover.agmBound(Set("a", "b"),
      Seq((Set("a", "b"), 7L), (Set("x", "y"), 1000000L)))
    assert(math.abs(restricted - 7.0) < 1e-6)
  }
}

class JoinHyperGraphSpec extends AnyFunSuite {
  import JoinHyperGraph._

  test("GYO: path and star are acyclic, triangle and 4-cycle are not") {
    assert(isAcyclic(Seq(Set("a", "b"), Set("b", "c"), Set("c", "d"))))
    assert(isAcyclic(Seq(Set("k", "x"), Set("k", "y"), Set("k", "z"))))
    assert(!isAcyclic(Seq(Set("a", "b"), Set("b", "c"), Set("a", "c"))))
    assert(!isAcyclic(Seq(Set("a", "b"), Set("b", "c"), Set("c", "d"), Set("d", "a"))))
  }

  test("triangle decomposes to a single bag of width 1.5") {
    val d = decompose(Seq(Edge(0, Set("a", "b")), Edge(1, Set("b", "c")), Edge(2, Set("a", "c"))))
    assert(d.bags.size === 1)
    assert(math.abs(d.fhtw - 1.5) < 1e-9)
  }

  test("acyclic path keeps width 1") {
    val d = decompose(Seq(Edge(0, Set("a", "b")), Edge(1, Set("b", "c")), Edge(2, Set("c", "d"))))
    assert(math.abs(d.fhtw - 1.0) < 1e-9)
    assert(d.bags.size === 3)
    assert(d.treeEdges.size === 2)
  }

  test("4-cycle fhtw is at most 2 and decomposition is a valid tree") {
    val d = decompose(Seq(
      Edge(0, Set("a", "b")), Edge(1, Set("b", "c")), Edge(2, Set("c", "e")), Edge(3, Set("e", "a"))))
    assert(d.fhtw <= 2.0 + 1e-9)
    assert(d.treeEdges.size === d.bags.size - 1)
  }

  test("large inputs fall back without blowing up") {
    val edges = (0 until 12).map(i => Edge(i, Set(s"v$i", s"v${i + 1}")))
    val d = decompose(edges)
    assert(d.bags.size === 12)
  }

  test("cyclicCoreIds: acyclic shapes have an empty core") {
    assert(cyclicCoreIds(Seq(Set("a", "b"), Set("b", "c"), Set("c", "d"))).isEmpty)
    assert(cyclicCoreIds(Seq(Set("k", "x"), Set("k", "y"), Set("k", "z"))).isEmpty)
  }

  test("cyclicCoreIds: a fully cyclic query IS its core (S7 stays one-bag)") {
    // S7's 8 edges over 5 vertices: every edge survives ear reduction, so
    // the hybrid planner degenerates to the r13 whole-query enumeration
    val s7 = Seq(Set("a", "b"), Set("b", "c"), Set("c", "d"), Set("d", "e"),
      Set("a", "e"), Set("a", "c"), Set("b", "d"), Set("c", "e"))
    assert(cyclicCoreIds(s7) === s7.indices.toSet)
  }

  test("cyclicCoreIds: pendant tails reduce away, the cycle survives") {
    // triangle {0,1,2} + tail c->d->e->f {3,4,5} — GYO eats the tail from
    // its free end inward, never the triangle
    val coreTail = Seq(Set("a", "b"), Set("b", "c"), Set("c", "a"),
      Set("c", "d"), Set("d", "e"), Set("e", "f"))
    assert(cyclicCoreIds(coreTail) === Set(0, 1, 2))
    // a subsumed duplicate edge is periphery too (it only filters)
    val dup = Seq(Set("a", "b"), Set("b", "c"), Set("c", "a"), Set("a", "b"))
    assert(cyclicCoreIds(dup) === Set(0, 1, 2))
  }

  test("cyclicCoreIds + connectedComponents: two cores joined by a pendant vertex split") {
    // two vertex-disjoint triangles with a shared pendant w off each: w has
    // count 2 so its edges only reduce via subsumption... keep it simple —
    // two disconnected triangles (a cross-join query) are two components
    val two = Seq(Set("a", "b"), Set("b", "c"), Set("c", "a"),
      Set("x", "y"), Set("y", "z"), Set("z", "x"))
    val core = cyclicCoreIds(two)
    assert(core === Set(0, 1, 2, 3, 4, 5))
    val comps = connectedComponents(core.toSeq.sorted, i => two(i))
    assert(comps === Seq(Seq(0, 1, 2), Seq(3, 4, 5)))
  }
}

class MultiwayJoinSpec extends SparkSpec {
  import spark.implicits._

  test("triangle join result matches manual 3-way join") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 4L)).toDF("src", "dst")
    val r1 = e.select($"src".as("a"), $"dst".as("b"))
    val r2 = e.select($"src".as("b"), $"dst".as("c"))
    val r3 = e.select($"src".as("c"), $"dst".as("a"))
    val got = MultiwayJoin.join(Seq((r1, Seq("a", "b")), (r2, Seq("b", "c")), (r3, Seq("c", "a"))))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    // directed triangles: 1->2->3->1 and its rotations
    assert(got === Set((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)))
  }

  test("disconnected relations cross-join") {
    val x = Seq(1).toDF("x")
    val y = Seq(2, 3).toDF("y")
    assert(MultiwayJoin.join(Seq((x, Seq("x")), (y, Seq("y")))).count() === 2)
  }

  test("Yannakakis reduction preserves results on a selective path join") {
    val r = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b")
    val s = Seq((10L, 100L), (20L, 200L), (99L, 999L)).toDF("b", "c")
    val t = Seq((100L, 7L)).toDF("c", "d")
    val rels = Seq((r, Seq("a", "b")), (s, Seq("b", "c")), (t, Seq("c", "d")))
    val plain = MultiwayJoin.join(rels).select("a", "b", "c", "d")
      .as[(Long, Long, Long, Long)].collect().toSet
    val reduced = MultiwayJoin.join(rels, reduce = true).select("a", "b", "c", "d")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(reduced === plain)
    assert(reduced === Set((1L, 10L, 100L, 7L)))
  }

  test("planner groups cyclic core into one bag") {
    val p = MultiwayJoin.plan(Seq(Seq("a", "b"), Seq("b", "c"), Seq("a", "c"), Seq("c", "d")))
    // triangle abc in one bag, pendant cd attached
    assert(p.bags.exists(_.edgeIds.toSet === Set(0, 1, 2)))
    assert(p.fhtw <= 1.5 + 1e-9)
  }

  test("4-cycle bag joins bushy: top join closes on both shared attributes, no path-3") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val rels = Seq(
      (e.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
      (e.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
      (e.select($"src".as("c"), $"dst".as("d")), Seq("c", "d")),
      (e.select($"src".as("d"), $"dst".as("a")), Seq("d", "a")))
    val joined = MultiwayJoin.join(rels)
    // bushy shape: the final join condition equates BOTH closing attributes
    // (a AND c) in one join — the left-deep chain would close them one at a
    // time with a path-3 intermediate in between
    val opt = joined.queryExecution.optimizedPlan.toString
    val closing = "Join Inner, \\(\\((a|c)#\\d+L = (a|c)#\\d+L\\) AND \\((a|c)#\\d+L = (a|c)#\\d+L\\)\\)".r
    assert(closing.findFirstIn(opt).isDefined, s"expected a two-attribute closing join in:\n$opt")
    assert(joined.select("a", "b", "c", "d").as[(Long, Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 3L, 4L), (2L, 3L, 4L, 1L), (3L, 4L, 1L, 2L), (4L, 1L, 2L, 3L)))
  }
}

class CardinalityOrderSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  // triangle over attributes with very different domains: a tiny (3
  // values), b medium (40), c large (200); coverage is equal (2 relations
  // each)
  private lazy val rels = {
    val rnd = new scala.util.Random(31)
    val ab = (1 to 300).map(_ => (rnd.nextInt(3).toLong, rnd.nextInt(40).toLong))
      .distinct.toDF("a", "b")
    val bc = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(200).toLong))
      .distinct.toDF("b", "c")
    val ac = (1 to 300).map(_ => (rnd.nextInt(3).toLong, rnd.nextInt(200).toLong))
      .distinct.toDF("a", "c")
    Seq((ab, Seq("a", "b")), (bc, Seq("b", "c")), (ac, Seq("a", "c")))
  }

  test("equal coverage orders WCOJ attributes by name") {
    val static = MultiwayJoin.wcojAttrOrder(rels, Set("c", "b", "a"))
    assert(static === Seq("a", "b", "c"))
  }

  test("a cyclic bag through WCOJ equals the binary-join formulation") {
    val plain = MultiwayJoin.join(rels, wcoj = true)
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(plain.nonEmpty) // the comparison must see real bindings
    val binary = rels(0)._1.join(rels(1)._1, "b").join(rels(2)._1, Seq("a", "c"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(plain === binary)
  }

  test("hybrid core survives NULLABLE tails: the cyclic core still routes through LeapFrog") {
    // wcojEligible requires single-occurrence attributes non-nullable, and
    // parquet-derived columns are nullable — so a whole-query one-bag is
    // silently unreachable on real data whenever a pattern has a tail (its
    // end vertex occurs once). The hybrid planner must scope eligibility
    // to the CORE component (where every attr occurs ≥ 2×), or an
    // eligibility tweak quietly turns every core+tail pattern into
    // pure-binary. Swept over tail shapes; q240 pins one live instance.
    import org.apache.spark.sql.DataFrame
    def boxed(rows: Seq[(Long, Long)], c1: String, c2: String): DataFrame =
      rows.map { case (a, b) =>
        (java.lang.Long.valueOf(a), java.lang.Long.valueOf(b))
      }.toDF(c1, c2) // boxed → nullable=true, the parquet schema shape
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L))
    val tail = Seq((1L, 10L), (2L, 20L), (3L, 30L), (10L, 40L), (30L, 50L),
      (40L, 60L), (50L, 70L))
    val core = Seq(
      (boxed(tri, "a", "b"), Seq("a", "b")),
      (boxed(tri, "b", "c"), Seq("b", "c")),
      (boxed(tri, "c", "a"), Seq("c", "a")))
    val tailShapes: Seq[(String, Seq[(DataFrame, Seq[String])])] = Seq(
      "one-hop" -> Seq((boxed(tail, "c", "d"), Seq("c", "d"))),
      "multi-hop" -> Seq((boxed(tail, "c", "d"), Seq("c", "d")),
        (boxed(tail, "d", "e"), Seq("d", "e")),
        (boxed(tail, "e", "f"), Seq("e", "f"))),
      "branching" -> Seq((boxed(tail, "c", "d"), Seq("c", "d")),
        (boxed(tail, "b", "e"), Seq("b", "e"))))
    for ((shape, tails) <- tailShapes) {
      val rels = core ++ tails
      val cols = rels.flatMap(_._2).distinct.sorted
      val hybrid = MultiwayJoin.join(rels, wcoj = true)
      val p = hybrid.queryExecution.executedPlan.toString
      assert(p.contains("LeapFrogJoin"),
        s"$shape: nullable tail must not evict the core from the WCOJ route")
      assert(Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        .exists(p.contains), s"$shape: periphery must stay binary")
      val viaBinary = MultiwayJoin.join(rels, wcoj = false)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val viaHybrid = hybrid.select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(viaHybrid === viaBinary, s"$shape: routes disagree")
      assert(viaHybrid.nonEmpty, s"$shape: vacuous sweep")
    }
    // genuinely parquet-derived columns (not just boxed): same pin
    val dir = java.nio.file.Files.createTempDirectory("hybrid_nullable")
    try {
      boxed(tri, "src", "dst").write.mode("overwrite")
        .parquet(s"$dir/edges")
      val e = spark.read.parquet(s"$dir/edges")
      assert(e.schema.fields.forall(_.nullable), "parquet read must be nullable")
      val rels = Seq(
        (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
        (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
        (e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c")),
        (boxed(tail, "c", "d"), Seq("c", "d")))
      val hybrid = MultiwayJoin.join(rels, wcoj = true)
      assert(hybrid.queryExecution.executedPlan.toString.contains("LeapFrogJoin"))
      assert(hybrid.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("coverage orders WCOJ attributes before the name tie-break") {
    // b appears in all three relations, a, c and d in one each:
    // most-covered-first puts b ahead of a
    val r = Seq(
      (Seq((1L, 1L)).toDF("b", "d"), Seq("b", "d")),
      (Seq((1L, 2L)).toDF("a", "b"), Seq("a", "b")),
      (Seq((2L, 1L)).toDF("b", "c"), Seq("b", "c")))
    val order = MultiwayJoin.wcojAttrOrder(r, Set("a", "b", "c", "d"))
    assert(order.head === "b")
  }
}
