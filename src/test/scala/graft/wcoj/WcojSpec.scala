package graft.wcoj

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{QueryTrace, SparkSpec}
import LeapFrog.Relation

class LeapFrogSpec extends AnyFunSuite {

  private def rel(attrs: Seq[String], rows: Seq[Seq[Long]]): Relation =
    Relation(attrs.toArray, LeapFrog.sortRows(rows.map(_.toArray).toArray))

  test("triangle enumeration matches hand result") {
    // edges: 1->2, 2->3, 3->1, 1->3, 2->4
    val e = Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L), Seq(1L, 3L), Seq(2L, 4L))
    val r1 = rel(Seq("a", "b"), e)
    val r2 = rel(Seq("b", "c"), e)
    val r3 = rel(Seq("a", "c"), e.map(r => Seq(r(1), r(0)))) // (c,a) reordered to (a,c)
    val got = LeapFrog.join(Seq(r1, r2, r3), Array("a", "b", "c")).map(_.toSeq).toSet
    // cycles a->b->c->a: (1,2,3),(2,3,1),(3,1,2); plus path 1->2->3 closed by 3->1? r3 holds (a,c) with c->a edge
    assert(got === Set(Seq(1L, 2L, 3L), Seq(2L, 3L, 1L), Seq(3L, 1L, 2L)))
  }

  test("binary join equals nested-loop reference on random data") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val r = Seq.fill(40)(Seq(rnd.nextInt(8).toLong, rnd.nextInt(8).toLong)).distinct
      val s = Seq.fill(40)(Seq(rnd.nextInt(8).toLong, rnd.nextInt(8).toLong)).distinct
      val got = LeapFrog.join(Seq(rel(Seq("x", "y"), r), rel(Seq("y", "z"), s)), Array("x", "y", "z"))
        .map(_.toSeq).toVector.sorted(Ordering.by[Seq[Long], String](_.mkString(",")))
      val expect = (for { a <- r; b <- s; if a(1) == b(0) } yield Seq(a(0), a(1), b(1)))
        .sorted(Ordering.by[Seq[Long], String](_.mkString(",")))
      assert(got === expect)
    }
  }

  test("empty intersection yields nothing") {
    val r1 = rel(Seq("a", "b"), Seq(Seq(1L, 2L)))
    val r2 = rel(Seq("b", "c"), Seq(Seq(9L, 3L)))
    assert(LeapFrog.join(Seq(r1, r2), Array("a", "b", "c")).isEmpty)
  }

  test("duplicate rows multiply like bag join does not occur on set input") {
    val r1 = rel(Seq("a"), Seq(Seq(5L)))
    val r2 = rel(Seq("a", "b"), Seq(Seq(5L, 1L), Seq(5L, 2L)))
    val got = LeapFrog.join(Seq(r1, r2), Array("a", "b")).map(_.toSeq).toSet
    assert(got === Set(Seq(5L, 1L), Seq(5L, 2L)))
  }

  test("joinIterator equals materializing join on random shapes (shared-buffer contract)") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 10) {
      val n = 20 + rnd.nextInt(40)
      val e = Seq.fill(n)(Seq(rnd.nextInt(7).toLong, rnd.nextInt(7).toLong)).distinct
      val f = Seq.fill(n)(Seq(rnd.nextInt(7).toLong, rnd.nextInt(7).toLong)).distinct
      val shapes = Seq(
        // triangle
        (Seq(rel(Seq("a", "b"), e), rel(Seq("b", "c"), e),
          rel(Seq("a", "c"), e.map(r => Seq(r(1), r(0))))), Array("a", "b", "c")),
        // path-3 with two sources
        (Seq(rel(Seq("a", "b"), e), rel(Seq("b", "c"), f), rel(Seq("c", "d"), e)),
          Array("a", "b", "c", "d")),
        // single unary intersect
        (Seq(rel(Seq("a"), e.map(r => Seq(r.head))), rel(Seq("a"), f.map(r => Seq(r.head)))),
          Array("a")))
      val (rels, order) = shapes(trial % shapes.size)
      val viaJoin = LeapFrog.join(rels, order).map(_.toVector).toVector.sorted(
        Ordering.by[Vector[Long], String](_.mkString(",")))
      // iterator yields a SHARED buffer: copy per binding, like real callers
      val viaIter = LeapFrog.joinIterator(rels, order).map(_.toVector).toVector.sorted(
        Ordering.by[Vector[Long], String](_.mkString(",")))
      assert(viaIter === viaJoin, s"trial $trial shape ${trial % shapes.size}")
    }
  }

  test("joinIterator on empty intersection and empty relation") {
    val r1 = rel(Seq("a", "b"), Seq(Seq(1L, 2L)))
    val r2 = rel(Seq("b", "c"), Seq(Seq(9L, 3L)))
    assert(LeapFrog.joinIterator(Seq(r1, r2), Array("a", "b", "c")).isEmpty)
    val empty = rel(Seq("b", "c"), Nil)
    assert(LeapFrog.joinIterator(Seq(r1, empty), Array("a", "b", "c")).isEmpty)
  }
}

class HyperCubeSpec extends AnyFunSuite {

  test("triangle with symmetric sizes gets a balanced cube") {
    val s = HyperCube.optimalSharesStat(Seq("a", "b", "c"),
      Seq(Set("a", "b"), Set("b", "c"), Set("a", "c")).map(HyperCube.RelStat(_, 1000L, 1000L)),
      maxCells = 27).shares
    assert(s.p.toSeq === Seq(3, 3, 3))
  }

  test("shared attribute absorbs the whole budget when it splits all relations") {
    // R(a,b) huge, S(b,c) tiny: partitioning on the shared b splits both
    // relations with ZERO replication — p_b takes everything
    val s = HyperCube.optimalSharesStat(Seq("a", "b", "c"),
      Seq(HyperCube.RelStat(Set("a", "b"), 1000000L, 1000000L),
        HyperCube.RelStat(Set("b", "c"), 10L, 10L)), maxCells = 16).shares
    assert(s.p.toSeq === Seq(1, 16, 1))
  }

  test("cell ids are a bijection over the grid") {
    val s = HyperCube.Shares(Array("x", "y"), Array(3, 4))
    val ids = for (i <- 0 until 3; j <- 0 until 4) yield s.cellId(Array(i, j))
    assert(ids.toSet === (0 until 12).toSet)
  }

  test("budgeted sizing grows the grid until the max cell payload fits") {
    // one 1 GB relation over both attributes, 1 MB per-task budget: the grid
    // must grow to ≥1000 cells (from a floor of 4) for a cell to fit
    val stats = Seq(HyperCube.RelStat(Set("a", "b"), 100000000L, 1000000000L))
    val sized = HyperCube.budgetedShares(Seq("a", "b"), stats,
      minCells = 4, budgetBytes = 1000000L, cellCap = 4096)
    assert(sized.shares.numCells >= 1000)
    assert(sized.estMaxCellBytes <= 1000000.0)
    // and without pressure the floor is kept (no gratuitous tiny partitions)
    val small = HyperCube.budgetedShares(Seq("a", "b"),
      Seq(HyperCube.RelStat(Set("a", "b"), 100L, 4000L)),
      minCells = 4, budgetBytes = 1000000L, cellCap = 4096)
    assert(small.shares.numCells <= 4)
  }

  test("budgeted sizing terminates at the cap when skew floors the load") {
    // heaviest value holds 50% of a 1 GB relation: no grid can push the max
    // cell below ~250 MB (both attrs at f=0.5), but every doubling still
    // shrinks it (562 MB at 2×2, 282 MB at 16×16), so the grid grows to the cap
    val halfHeavy = Seq(HyperCube.RelStat(Set("a", "b"), 100000000L,
      1000000000L, heavyFrac = Map("a" -> 0.5, "b" -> 0.5)))
    val sized = HyperCube.budgetedShares(Seq("a", "b"), halfHeavy,
      minCells = 4, budgetBytes = 1000000L, cellCap = 256)
    assert(sized.shares.numCells === 256)
    assert(sized.estMaxCellBytes > 1000000.0) // honestly reports the miss
    // one value holding every row: no doubling shrinks the cell, the floor stays
    val allHeavy = Seq(HyperCube.RelStat(Set("a", "b"), 100000000L,
      1000000000L, heavyFrac = Map("a" -> 1.0, "b" -> 1.0)))
    assert(HyperCube.budgetedShares(Seq("a", "b"), allHeavy,
      minCells = 4, budgetBytes = 1000000L, cellCap = 256).shares.numCells <= 4)
  }

  test("budgeted sizing keeps the cap's grid for uniform inputs too large for it") {
    // three 10 GB relations, 32 MB budget: even 16×16×16 cells hold ~117 MB
    // each, far below the floor's GBs, so the largest grid is kept
    val tri = Seq(Set("a", "b"), Set("b", "c"), Set("c", "a"))
      .map(HyperCube.RelStat(_, 250000000L, 10000000000L))
    val sized = HyperCube.budgetedShares(Seq("a", "b", "c"), tri,
      minCells = 4, budgetBytes = 32L << 20, cellCap = 4096)
    assert(sized.shares.numCells === 4096)
    assert(sized.estMaxCellBytes < 120e6)
  }

  test("budgeted sizing keeps the floor when the budget is below one row of every relation") {
    // 380 rows of 40 bytes per relation: a cell that yields output holds at
    // least 120 bytes, so a 1-byte budget is out of any grid's reach
    val tri = Seq(Set("a", "b"), Set("b", "c"), Set("c", "a"))
      .map(HyperCube.RelStat(_, 380L, 380L * 40))
    def cells(budget: Long) = HyperCube.budgetedShares(Seq("a", "b", "c"), tri,
      minCells = 4, budgetBytes = budget, cellCap = 4096).shares.numCells
    assert(cells(1L) <= 4)
    assert(cells(1000L) > 4) // a reachable budget still grows the grid
  }

  test("skewed attribute gets less share; skew-aware max load beats uniform") {
    // triangle where b is heavily skewed in both relations that contain it:
    // hashing on b cannot split the heavy value, so the optimizer should
    // spend the grid on a and c instead
    val skewed = Seq(
      HyperCube.RelStat(Set("a", "b"), 1000L, 1000L, Map("b" -> 0.5)),
      HyperCube.RelStat(Set("b", "c"), 1000L, 1000L, Map("b" -> 0.5)),
      HyperCube.RelStat(Set("a", "c"), 1000L, 1000L))
    val aware = HyperCube.optimalSharesStat(Seq("a", "b", "c"), skewed, 27)
    val pOf = (s: HyperCube.Shares, a: String) => s.p(s.attrs.indexOf(a))
    assert(pOf(aware.shares, "b") < pOf(aware.shares, "a"))
    assert(pOf(aware.shares, "b") < pOf(aware.shares, "c"))
    // uniform-model choice, evaluated under the true (skewed) stats, is a
    // strictly worse max-cell load than the skew-aware choice
    val uniform = HyperCube.optimalSharesStat(Seq("a", "b", "c"),
      skewed.map(_.copy(heavyFrac = Map.empty)), 27)
    assert(aware.estMaxCellBytes <
      HyperCube.estMaxCellBytes(uniform.shares, skewed))
  }
}

class SkewStatsSpec extends SparkSpec {

  test("misra-gries lower-bounds the heavy hitter and merges correctly") {
    val mg = new SkewStats.MisraGries(8)
    val rnd = new scala.util.Random(3)
    var heavy = 0
    (1 to 10000).foreach { _ =>
      if (rnd.nextDouble() < 0.4) { mg.add(7L); heavy += 1 }
      else mg.add(rnd.nextInt(1000).toLong + 100L)
    }
    assert(mg.maxCount <= heavy)              // lower bound, never inflates
    assert(mg.maxCount >= heavy - 10000 / 8)  // n/k error guarantee
  }

  test("relStat reports the skewed column and the uniform one differently") {
    val rows = (1 to 4000).map { i =>
      Array(if (i % 2 == 0) 42L else i.toLong, i.toLong)
    }
    val rdd = spark.sparkContext.parallelize(rows, 4)
    val st = SkewStats.relStats(Seq((Array("x", "y"), rdd))).head
    assert(st.rows === 4000L)
    assert(st.heavyFrac("x") > 0.3) // true fraction 0.5, MG lower bound
    assert(st.heavyFrac("y") < 0.05)
  }

  test("relStats (one combined job) == per-relation relStat for every relation") {
    val sc = spark.sparkContext
    val r1 = sc.parallelize((1 to 3000).map(i =>
      Array(if (i % 2 == 0) 42L else i.toLong, i.toLong)), 3)
    val r2 = sc.parallelize((1 to 500).map(i => Array(i.toLong)), 2)
    val r3 = sc.parallelize(Seq.empty[Array[Long]], 1) // empty relation
    val preps = Seq((Array("x", "y"), r1), (Array("z"), r2), (Array("w"), r3))
    val combined = SkewStats.relStats(preps)
    val single = preps.map(p => SkewStats.relStats(Seq(p)).head)
    combined.zip(single).foreach { case (c, s) =>
      assert(c.attrs === s.attrs)
      assert(c.rows === s.rows)
      assert(c.bytes === s.bytes)
      // sketches are merge-order dependent; both are valid MG lower
      // bounds — assert the combined one keeps the guarantee instead
      // of bitwise equality
      if (c.rows > 0) c.heavyFrac.foreach { case (k, f) =>
        assert(f >= 0.0 && f <= 1.0, s"$k frac $f")
      }
    }
    // the skewed column still reads as skewed through the combined pass
    assert(combined.head.heavyFrac("x") > 0.3)
  }

  test("degreeBound is a true output cap and exact on hand-built shapes") {
    val sc = spark.sparkContext
    // functional chain: edges i -> i+1 (out-degree 1). Triangle bound along
    // (a,b,c) = distinct(a) × 1 × 1 = n, vs AGM n^1.5 — the capped case.
    val n = 500
    val path = sc.parallelize((0 until n).map(i => Array(i.toLong, i + 1L)), 4)
    val preps = Seq(
      (Array("a", "b"), path), (Array("b", "c"), path),
      (Array("a", "c"), path))
    val bound = SkewStats.degreeBound(preps, Seq("a", "b", "c"))
    assert(bound === n.toDouble) // distinct(a)=n, caps for b and c are 1
    // random instance: bound ≥ the actual triangle count, every time
    val rnd = new scala.util.Random(23)
    val e = Seq.fill(300)(Array(rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .distinctBy(r => (r(0), r(1))).filter(r => r(0) != r(1))
    val er = sc.parallelize(e, 3)
    val rpreps = Seq((Array("a", "b"), er), (Array("b", "c"), er),
      (Array("a", "c"), sc.parallelize(e.map(r => Array(r(1), r(0))), 3)))
    val rbound = SkewStats.degreeBound(rpreps, Seq("a", "b", "c"))
    val actual = (for {
      x <- e; y <- e; if x(1) == y(0)
      z <- e; if z(1) == x(0) && z(0) == y(1)
    } yield 1).size
    assert(rbound >= actual.toDouble)
    // empty relation ⇒ empty join ⇒ bound 0
    val empty = sc.parallelize(Seq.empty[Array[Long]], 1)
    assert(SkewStats.degreeBound(
      Seq((Array("a", "b"), er), (Array("b", "c"), empty)),
      Seq("a", "b", "c")) === 0.0)
  }

  /** The triangle over `edges` (src -> dst) as the exec routes it at the
    * default cap, four cells of floor, under `budget` output bindings.
    */
  private def triangleRoute(edges: Seq[(Long, Long)], budget: Long) = {
    val sc = spark.sparkContext
    val ab = sc.parallelize(edges.map { case (u, v) => Array(u, v) }, 4)
    val preps = Seq((Array("a", "b"), ab), (Array("b", "c"), ab),
      (Array("a", "c"), sc.parallelize(edges.map { case (u, v) => Array(v, u) }, 4)))
    val (sized, bound) = LeapFrogJoinExec.route(Seq("a", "b", "c"),
      SkewStats.relStats(preps), 4, 32L << 20, budget,
      () => SkewStats.degreeBound(preps, Seq("a", "b", "c")))
    (sized.shares.numCells, bound)
  }

  test("single-cell collapse is output-aware: small input with large estimated output keeps the grid") {
    // near-complete digraph on 30 nodes: ~870 edges ≈ 35 KB routed (far
    // under the 4 MB payload threshold), but triangle AGM ≈ 870^1.5 ≈ 25.7k
    // and degree bound ≈ 30·29·29 ≈ 25.2k — with the binding budget set
    // below that, the collapse must NOT fire (this is the q48 shape: the
    // r14 input-bytes-only heuristic serialized a 27.8M-binding 4-cycle
    // into one task)
    val edges = for { u <- 0L until 30L; v <- 0L until 30L; if u != v } yield (u, v)
    val (gridCells, gridBound) = triangleRoute(edges, budget = 1000L)
    assert(gridCells > 1, "estimated-large output must keep the parallel grid")
    assert(gridBound.exists(_ > 1000.0))
    assert(triangleRoute(edges, budget = 16L << 20)._1 === 1)
  }

  test("a trace that skips the byte-gated estimate holds no output bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the bound is only computed inside the byte-gated branch, so a query
    // routed past it (inputs over the cap) reports none — never an
    // earlier query's
    val edges = (for { u <- 0 until 20; v <- 0 until 20; if u != v }
      yield (u.toLong, v.toLong)).toDF("src", "dst")
    def rels() = Seq(
      (edges.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
      (edges.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
      (edges.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a")))
    def run(): QueryTrace = QueryTrace.run(spark)(
      WcojJoin.join(spark, rels(), Seq("a", "b", "c")).count())._2
    // defaults: byte gate passes, bound computed
    assert(run().get("wcoj.outputBound").isDefined)
    // a cap under the ~46 KB routed payload fails the byte gate
    withConf(graft.Small.Key -> "32768") {
      assert(run().get("wcoj.outputBound").isEmpty,
        "a bound in a trace whose routing never computed one")
    }
  }

  test("a cap below one row's bytes keeps the floor grid, not 4096 cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 380 edges: a 1-byte cap is below one row of every relation, so no
    // grid fits it, and growing to the 4096-cell cap would run 4096 tasks
    // for a join one task finishes
    val edges = (for { u <- 0 until 20; v <- 0 until 20; if u != v }
      yield (u.toLong, v.toLong)).toDF("src", "dst")
    val rels = Seq(
      (edges.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
      (edges.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
      (edges.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a")))
    withConf(graft.Small.Key -> "1") {
      val (n, trace) = QueryTrace.run(spark)(
        WcojJoin.join(spark, rels, Seq("a", "b", "c")).count())
      assert(n === 20L * 19 * 18)
      assert(trace("wcoj.cells").toInt <= spark.sparkContext.defaultParallelism)
    }
  }

  test("degree-capped inputs still collapse to one cell when AGM alone is too loose") {
    // functional graph i -> (i+1) mod n: AGM for the triangle is n^1.5
    // (≈ 31.6k at n=1000) but the true output cap is n (out-degree 1) —
    // the q227/q228 capped-graph shape. With the budget between the two,
    // only the exact degree-sequence refinement can (and must) keep the
    // single-cell win.
    val n = 1000L
    val (cells, bound) = triangleRoute((0L until n).map(i => (i, (i + 1) % n)), budget = 5000L)
    assert(cells === 1, "degree bound (n) is under budget — the collapse must still fire")
    assert(bound.exists(_ <= 5000.0))
  }

  test("single-cell route is a pure execution change: results match the forced grid") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 4L), (4L, 1L),
      (3L, 4L), (4L, 2L)).toDF("src", "dst")
    def rels() = Seq(
      (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
      (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
      (e.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a")))
    def rows(): Set[(Long, Long, Long)] =
      WcojJoin.join(spark, rels(), Seq("a", "b", "c"))
        .as[(Long, Long, Long)].collect().toSet
    val viaSingleCell = rows() // tiny input → one cell by default
    withConf(graft.Small.Key -> "0") { // force the grid
      val viaGrid = rows()
      assert(viaSingleCell === viaGrid)
      assert(viaSingleCell.nonEmpty)
    }
  }
}

class WcojJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `f` with the small-input cap at 0, so LeapFrogJoinExec routes
    * through the Shares grid; `f` must execute the join (the exec reads the
    * cap when its routing runs). Also returns the cells it routed through.
    */
  private def onGrid[T](f: => T): (T, Int) =
    withConf(graft.Small.Key -> "0") {
      val (out, trace) = QueryTrace.run(spark)(f)
      (out, trace("wcoj.cells").toInt)
    }

  test("distributed triangle equals DataFrame 3-way join") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")

    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("c")), Seq("c", "a"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

    val (viaWcoj, cells) = onGrid(WcojJoin.join(spark, Seq(
        (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
        (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
        (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c"))),
      Seq("a", "b", "c"))
      .as[(Long, Long, Long)].collect().toSet)

    assert(cells > 1)
    assert(viaWcoj === viaDf)
    assert(viaWcoj.nonEmpty) // non-vacuous on this density
  }

  test("NULL join keys never match: no phantom rows against genuine 0 keys") {
    // nullable integral attrs skip the dictionary (and its null-dropping
    // encode join); without the trie-key null filter, row.getLong reads
    // NULL as 0 and binds it against real 0 keys
    val l = Seq[(java.lang.Long, java.lang.Long)]((0L, 1L), (null, 1L), (2L, 1L))
      .toDF("a", "b")
    val r = Seq[(java.lang.Long, java.lang.Long)]((1L, 0L), (1L, null), (1L, 3L))
      .toDF("b", "c")
    val viaDf = l.join(r, "b" :: Nil).select("a", "b", "c")
      .collect().map(x => (x.get(0), x.get(1), x.get(2))).toSet
    val viaWcoj = WcojJoin.join(spark, Seq(
        (l, Seq("a", "b")), (r, Seq("b", "c"))), Seq("a", "b", "c"))
      .collect().map(x => (x.get(0), x.get(1), x.get(2))).toSet
    // natural inner join: rows with NULL a or c never appear
    assert(viaWcoj === viaDf.filter(t => t._1 != null && t._3 != null))
    assert(viaWcoj.exists(_._1 == 0L)) // the genuine-0 rows DO join
  }

  test("Double keys bind by value, never truncated to longs") {
    // b = 1.2 and b = 1.7 differ, so the triangle has no binding; cast to
    // longs both read 1 and close the triangle (1, 1, 2)
    val r = Seq((1.0, 1.2)).toDF("a", "b")
    val s = Seq((1.7, 2.0)).toDF("b", "c")
    val t = Seq((1.0, 2.0)).toDF("a", "c")
    val viaDf = r.join(s, "b").join(t, Seq("a", "c")).collect()
    val viaWcoj = WcojJoin.join(spark,
      Seq((r, Seq("a", "b")), (s, Seq("b", "c")), (t, Seq("a", "c"))), Seq("a", "b", "c"))
    assert(viaWcoj.schema.fields.forall(_.dataType === org.apache.spark.sql.types.DoubleType))
    assert(viaWcoj.collect() === viaDf)
    assert(viaDf.isEmpty)
  }

  test("celebrity leading vertex gets the smallest hypercube share") {
    // a hot leading value: ~85% of the rows of both relations carrying `a`
    // hold a = 0, so hashing on `a` cannot split them. The skew-aware
    // shares must spend the grid on b and c instead, and the rows must
    // still equal plain binary joins.
    val rnd = new scala.util.Random(13)
    def hot = Seq.fill(300)((0L, 1L + rnd.nextInt(40).toLong))
    def cold = Seq.fill(60)((1L + rnd.nextInt(40).toLong, 1L + rnd.nextInt(40).toLong))
    val ab = (hot ++ cold).distinct.toDF("a", "b")
    val ac = (hot ++ cold).distinct.toDF("a", "c")
    val bc = cold.distinct.toDF("b", "c")
    val viaDf = ab.join(bc, "b").join(ac, Seq("a", "c"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

    val out = WcojJoin.join(spark,
      Seq((ab, Seq("a", "b")), (bc, Seq("b", "c")), (ac, Seq("a", "c"))),
      Seq("a", "b", "c"))
    val (collected, trace) =
      withConf(graft.Small.Key -> "0")(QueryTrace.run(spark)(out.collect()))
    val viaWcoj = collected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaWcoj === viaDf)
    assert(viaWcoj.nonEmpty)

    // the shares the exec chose, as its trace records them: "a=1,b=2,c=2"
    val shares = trace("wcoj.shares")
    val p = shares.split(",").map { kv =>
      val Array(a, n) = kv.split("="); a -> n.toInt
    }.toMap
    assert(p.keySet === Set("a", "b", "c"))
    assert(p.values.product === trace("wcoj.cells").toInt && p.values.product > 1)
    assert(p("a") < p("b") && p("a") < p("c"), shares)
  }

  test("hypercube triangle equals DataFrame 3-way join (no broadcast side)") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")

    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("c")), Seq("c", "a"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

    val (viaCube, cells) = onGrid(WcojJoin.join(spark, Seq(
        (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
        (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
        (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c"))),
      Seq("a", "b", "c"))
      .as[(Long, Long, Long)].collect().toSet)

    assert(cells > 1)
    assert(viaCube === viaDf)
    assert(viaCube.nonEmpty)
  }

  test("string-keyed triangle via the dictionary equals DataFrame 3-way join") {
    // the dictionary path: non-integral join attributes are encoded to
    // dense longs, joined worst-case-optimally, and decoded back — the
    // result must agree with plain binary joins value-for-value
    val rnd = new scala.util.Random(19)
    val names = (0 until 30).map(i => s"node_${('a' + i % 26).toChar}$i")
    val edges = Seq.fill(350)((names(rnd.nextInt(30)), names(rnd.nextInt(30))))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")

    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("c")), Seq("c", "a"))
      .select("a", "b", "c").as[(String, String, String)].collect().toSet

    val viaWcoj = WcojJoin.join(spark, Seq(
        (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
        (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
        (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c"))),
      Seq("a", "b", "c"))
    assert(viaWcoj.schema.fields.forall(_.dataType ===
      org.apache.spark.sql.types.StringType))
    assert(viaWcoj.as[(String, String, String)].collect().toSet === viaDf)
    assert(viaDf.nonEmpty)
  }

  test("join mixes per-dtype shared dictionaries with direct integral attrs") {
    // attrs: u (string, dictionary), d (date, its own dictionary — shared
    // per dtype, not per attribute), k (long, direct cast — no dictionary).
    // Chain u -[R]- d -[S]- k must agree with plain binary joins and
    // round-trip every value exactly.
    val r = Seq(("alice", java.sql.Date.valueOf("2024-01-01")),
        ("bob", java.sql.Date.valueOf("2024-02-02")),
        ("alice", java.sql.Date.valueOf("2024-02-02")))
      .toDF("u", "d")
    val s = Seq((java.sql.Date.valueOf("2024-01-01"), 10L),
        (java.sql.Date.valueOf("2024-02-02"), 20L),
        (java.sql.Date.valueOf("2024-02-02"), 30L))
      .toDF("d", "k")
    val viaDf = r.join(s, "d" :: Nil).select("u", "d", "k")
      .as[(String, java.sql.Date, Long)].collect().toSet
    val viaWcoj = WcojJoin.join(spark,
        Seq((r, Seq("u", "d")), (s, Seq("d", "k"))), Seq("u", "d", "k"))
      .select("u", "d", "k")
    assert(viaWcoj.schema("u").dataType === org.apache.spark.sql.types.StringType)
    assert(viaWcoj.schema("d").dataType === org.apache.spark.sql.types.DateType)
    assert(viaWcoj.as[(String, java.sql.Date, Long)].collect().toSet === viaDf)
    assert(viaDf.size === 5)
  }

  test("join skips the dictionary when every attribute is integral") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = WcojJoin.join(spark, Seq(
        (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
        (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
        (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c"))),
      Seq("a", "b", "c"))
    // pure Catalyst node, no encode/decode joins around it
    assert(out.queryExecution.executedPlan.toString.contains("LeapFrogJoin"))
    assert(!out.queryExecution.optimizedPlan.toString.contains("Join Inner"))
    assert(out.as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)))
  }

  test("MultiwayJoin(wcoj=true) runs a string-keyed cyclic bag on LeapFrog") {
    val edges = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("x", "w"))
      .toDF("src", "dst")
    val rels = Seq(
      (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
      (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
      (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c")))
    val out = graft.plans.MultiwayJoin.join(rels, wcoj = true)
    // no silent fallback to binary joins: the WCOJ node must be in the plan
    assert(out.queryExecution.executedPlan.toString.contains("LeapFrogJoin"))
    assert(out.select("a", "b", "c").as[(String, String, String)].collect().toSet ===
      Set(("x", "y", "z"), ("y", "z", "x"), ("z", "x", "y")))
  }

  test("Catalyst-native WCOJ plan node equals DataFrame joins and shows in explain") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")
    val rels = Seq(
      (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
      (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
      (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c")))

    val viaCatalyst = WcojJoin.join(spark, rels, Seq("a", "b", "c"))
    assert(viaCatalyst.queryExecution.executedPlan.toString.contains("LeapFrogJoin"))

    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("c")), Seq("c", "a"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(viaCatalyst.as[(Long, Long, Long)].collect().toSet === viaDf)

    // composes with downstream Catalyst ops (filter + agg over the custom node)
    val n = viaCatalyst.filter($"a" < $"b").groupBy("a").count().count()
    assert(n >= 0)
  }

  test("4-cycle through both RDD paths streams chunked (dense output, no blow-up)") {
    // dense bipartite-ish graph: the 4-cycle output is much larger than any
    // input, exactly the shape that OOM'd a materialize-everything join
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(600)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")
    val rels = Seq(
      (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
      (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
      (edges.select($"src".as("c"), $"dst".as("d")), Seq("c", "d")),
      (edges.select($"dst".as("a"), $"src".as("d")), Seq("a", "d")))

    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"src".as("c"), $"dst".as("d")), "c" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("d")), Seq("d", "a"))
      .select("a", "b", "c", "d").as[(Long, Long, Long, Long)].collect().toSet

    // both exec routes: the default (output-aware, may collapse to one
    // cell) and the forced grid
    def run() = WcojJoin.join(spark, rels, Seq("a", "b", "c", "d"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaLf = run()
    val (viaCube, cells) = onGrid(run())
    assert(cells > 1)

    assert(viaLf === viaDf)
    assert(viaCube === viaDf)
    assert(viaDf.size > 1000) // non-trivial output volume
  }

  test("cell budget auto-scales the hypercube grid past the parallelism floor") {
    val rnd = new scala.util.Random(21)
    val edges = Seq.fill(3000)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst")
    val rels = Seq(
      (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
      (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
      (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c")))
    val viaDf = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), "b" :: Nil)
      .join(edges.select($"dst".as("a"), $"src".as("c")), Seq("c", "a"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

    withConf(graft.Small.Key -> "16384") {
      // the floor is defaultParallelism; the grid grows past it until the
      // estimated max cell payload fits the cap
      val (cube, trace) = QueryTrace.run(spark)(WcojJoin.join(spark, rels, Seq("a", "b", "c"))
        .as[(Long, Long, Long)].collect().toSet)
      assert(trace("wcoj.cells").toInt > spark.sparkContext.defaultParallelism)
      assert(cube === viaDf)
    }
  }

  test("zipf skew: skew-aware shares cut the max routed cell payload") {
    val rnd = new scala.util.Random(9)
    def uni(): Long = rnd.nextInt(500).toLong + 1
    def skewedB(): Long = if (rnd.nextDouble() < 0.5) 0L else uni()
    // only attribute b is skewed (50% of rows hold the heavy value) — in
    // both relations that contain it; a and c stay uniform
    val rRows = (1 to 5000).map(_ => Array(uni(), skewedB()))
    val sRows = (1 to 5000).map(_ => Array(skewedB(), uni()))
    val tRows = (1 to 5000).map(_ => Array(uni(), uni()))
    val sc = spark.sparkContext
    val stats = SkewStats.relStats(Seq(
      (Array("a", "b"), sc.parallelize(rRows, 4)),
      (Array("b", "c"), sc.parallelize(sRows, 4)),
      (Array("a", "c"), sc.parallelize(tRows, 4))))

    val attrs = Seq("a", "b", "c")
    val aware = HyperCube.optimalSharesStat(attrs, stats, 64).shares
    val uniform = HyperCube.optimalSharesStat(attrs,
      stats.map(_.copy(heavyFrac = Map.empty)), 64).shares
    // the skewed attribute is not worth grid budget — hashing can't split it
    assert(aware.p(attrs.indexOf("b")) < aware.p(attrs.indexOf("a")))

    // route every tuple exactly like the exec does and measure the heaviest
    // cell under each choice: the skew-aware grid must balance better
    def maxCellLoad(sh: HyperCube.Shares,
        rels: Seq[(Array[String], Seq[Array[Long]])]): Long = {
      val loads = new Array[Long](sh.numCells)
      for ((rAttrs, rows) <- rels; row <- rows) {
        val bucket = Array.fill(sh.attrs.length)(-1)
        rAttrs.indices.foreach { i =>
          bucket(sh.attrs.indexOf(rAttrs(i))) = sh.bucketOf(rAttrs(i), row(i))
        }
        def go(j: Int, acc: Array[Int]): Unit =
          if (j == sh.attrs.length) loads(sh.cellId(acc)) += 8L * row.length + 24
          else if (acc(j) >= 0) go(j + 1, acc)
          else (0 until sh.p(j)).foreach { b =>
            val a2 = acc.clone(); a2(j) = b; go(j + 1, a2)
          }
        go(0, bucket)
      }
      loads.max
    }
    val rels = Seq((Array("a", "b"), rRows), (Array("b", "c"), sRows),
      (Array("a", "c"), tRows))
    assert(maxCellLoad(aware, rels) < maxCellLoad(uniform, rels))
  }

  test("hypercube disconnected join degenerates to a partitioned cross product") {
    val x = Seq(1L, 2L).toDF("x")
    val y = Seq(10L, 20L, 30L).toDF("y")
    val (got, cells) = onGrid(WcojJoin.join(spark,
        Seq((x, Seq("x")), (y, Seq("y"))), Seq("x", "y"))
      .as[(Long, Long)].collect().toSet)
    assert(cells > 1)
    assert(got === (for (a <- Seq(1L, 2L); b <- Seq(10L, 20L, 30L)) yield (a, b)).toSet)
  }
}
