package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.Similarity.{Frame, Ivf, Prefix, Sq8}
import graft.plans.MultiwayJoin
import graft.wcoj.WcojJoin

/** Randomized differential testing in the spirit of the reference's
  * TestQueryGenerator (src/test/scala/util/TestQueryGenerator.scala): random
  * join hypergraphs evaluated four ways — naive left-to-right natural join,
  * GHD-planned MultiwayJoin, Yannakakis-reduced MultiwayJoin, and the
  * HyperCube worst-case-optimal path — must all agree.
  */
class RandomDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val attrPool = Vector("a", "b", "c", "d", "e")

  private def naive(rels: Seq[(DataFrame, Seq[String])]): DataFrame =
    rels.map(_._1).reduce { (l, r) =>
      val common = l.columns.intersect(r.columns).toIndexedSeq
      if (common.isEmpty) l.crossJoin(r) else l.join(r, common, "inner")
    }

  private def canon(df: DataFrame, cols: Seq[String]): Set[Seq[Long]] =
    df.select(cols.map(col): _*).collect().map(r => cols.indices.map(r.getLong)).toSet

  /** The LeapFrog exec forced onto its HyperCube grid (small-input cap at
    * 0), canonicalized; also asserts the run used more than one cell.
    */
  private def viaGrid(rels: Seq[(DataFrame, Seq[String])], cols: Seq[String]): Set[Seq[Long]] = {
    val (got, trace) = withConf(Small.Key -> "0")(
      QueryTrace.run(spark)(
        canon(WcojJoin.join(spark, rels, cols), cols)))
    assert(trace("wcoj.cells").toInt > 1, "grid cells")
    got
  }

  test("4-cycle: naive == bushy GHD == Yannakakis == wcoj-routed == hypercube") {
    // targets the greedy-bushy bag join and the wcoj routing on the exact
    // shape they were built for
    val rnd = new scala.util.Random(404)
    for (trial <- 1 to 3) {
      val e = Seq.fill(120)(Seq(rnd.nextInt(9).toLong, rnd.nextInt(9).toLong)).distinct
      def rel(a: String, b: String) = {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(e.map(org.apache.spark.sql.Row.fromSeq(_))),
          org.apache.spark.sql.types.StructType(Seq(a, b).map(x =>
            org.apache.spark.sql.types.StructField(x, org.apache.spark.sql.types.LongType, nullable = false))))
        (df, Seq(a, b))
      }
      val rels = Seq(rel("a", "b"), rel("b", "c"), rel("c", "d"), rel("d", "a"))
      // cycle closure needs (d,a) column ORDER consistent: build via select
      val fixed = rels.map { case (df, attrs) => (df.select(attrs.map(col): _*), attrs) }
      val outCols = Seq("a", "b", "c", "d")
      withClue(s"4-cycle trial $trial: ") {
        val base = canon(naive(fixed), outCols)
        assert(canon(MultiwayJoin.join(fixed), outCols) === base, "bushy GHD")
        assert(canon(MultiwayJoin.join(fixed, reduce = true), outCols) === base, "Yannakakis")
        assert(canon(MultiwayJoin.join(fixed, wcoj = true), outCols) === base, "wcoj-routed")
        assert(viaGrid(fixed, outCols) === base, "hypercube")
      }
    }
  }

  test("random patterns × random downstream plans: wcoj route == binary route") {
    // the round-12 regression class: the LeapFrogJoinPlan column-pruning
    // bug only surfaced with an Aggregate/Project DIRECTLY above the node
    // (a Filter in between masked it for eleven rounds). This differential
    // composes random subgraph patterns with random downstream plan shapes
    // over both routes of PropertyGraph.pattern, so any plan-integration
    // break in the custom node (pruning, nullability, ordering, codegen
    // hand-off) shows up as a route disagreement, not a green suite.
    val rnd = new scala.util.Random(1212)
    val patterns = Vector(
      "(a)-[]->(b)-[]->(c); (c)-[]->(a)",                                  // triangle
      "(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a)",                          // 4-cycle
      "(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a); (b)-[]->(d)",             // diamond
      "(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a); (b)-[]->(d); (a)-[]->(c)",// 4-clique
      "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e)",     // S5 house
      // the 7-8-edge 5-vertex shapes that route through the r13 ONE-BAG
      // wcoj path (the GHD hybrid's acyclic-bag cube lived exactly here)
      "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e); (c)-[]->(e)",              // S6
      "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (a)-[]->(c); (b)-[]->(d); (c)-[]->(e)", // S7
      "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(d); (b)-[]->(e); (c)-[]->(e)", // S8
      // cyclic core + a DANGLING free vertex (the C3/C4 weighted shape):
      // the r14 HYBRID route (core bag + binary periphery) must agree with
      // the GHD's bag-join on a hypergraph whose w edge GYO reduces away
      "(a)-[]->(b)-[]->(c); (c)-[]->(a); (c)-[]->(w)",                     // triangle + tail
      // deeper periphery through the hybrid: a 3-hop pendant path (the
      // q240 gate shape) and a BRANCHING pendant tree off the core
      "(a)-[]->(b)-[]->(c); (c)-[]->(a); (c)-[]->(d)-[]->(e)-[]->(w)",     // triangle + 3-hop tail
      "(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a); (b)-[]->(d); (d)-[]->(e); (e)-[]->(w); (e)-[]->(c)") // diamond core + branch closing back
    def canonRows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // every pattern runs at least once (trials 1..patterns.size sweep the
    // pool in order — random picks alone could skip the tail additions);
    // later trials draw pattern and shape randomly as before
    for (trial <- 1 to (patterns.size + 4)) {
      val e = Seq.fill(180)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .distinct.filter(p => p._1 != p._2).toDF("src", "dst")
      val g = graft.graph.PropertyGraph.fromEdges(e)
      val pat =
        if (trial <= patterns.size) patterns(trial - 1)
        else patterns(rnd.nextInt(patterns.size))
      // a random downstream shape on top of the pattern result
      val shape = rnd.nextInt(5)
      def build(wcoj: Boolean): DataFrame = {
        val m = g.pattern(pat, wcoj = wcoj)
        shape match {
          case 0 => m.groupBy("a").agg(count(lit(1)).as("n"))             // bare agg (the bug shape)
          case 1 => m.agg(count(lit(1)).as("n"))                           // global agg, no grouping
          case 2 => m.filter(col("a") < col("b")).groupBy("b")
            .agg(count(lit(1)).as("n"))                                    // filter + agg
          case 3 => m.select("b", "c").distinct()                          // project-distinct directly above
          case 4 => m.orderBy(m.columns.map(col): _*).limit(25)            // sort + limit
        }
      }
      withClue(s"trial $trial pattern='$pat' shape=$shape: ") {
        assert(canonRows(build(wcoj = true)) === canonRows(build(wcoj = false)))
      }
    }
  }

  test("bidirectional cyclic pattern: wcoj route == binary route's DISTINCT bindings") {
    // wcoj = true is documented SET semantics at the pattern level: when
    // the data holds BOTH directions of an edge, a bidirectional pattern
    // edge's two-direction union carries the same binding twice — the
    // binary (bag) route keeps both witnesses, the wcoj route counts
    // distinct bindings. The routes therefore agree exactly on the
    // binding SET (this also exercises the union+distinct edge copy
    // through the r13 one-bag trie).
    val rnd = new scala.util.Random(3131)
    for (trial <- 1 to 3) {
      val half = Seq.fill(120)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .distinct.filter(p => p._1 != p._2)
      // force mutual pairs so the bag-vs-set divergence is live
      val e = (half ++ half.take(40).map(_.swap)).distinct.toDF("src", "dst")
      val g = graft.graph.PropertyGraph.fromEdges(e)
      val pat = "(a)-[]-(b)-[]->(c); (c)-[]->(a)"
      val viaWcoj = g.pattern(pat, wcoj = true)
        .collect().map(_.toSeq).toSet
      val viaBinaryDistinct = g.pattern(pat).distinct()
        .collect().map(_.toSeq).toSet
      withClue(s"trial $trial: ") {
        assert(viaWcoj === viaBinaryDistinct)
        assert(viaWcoj.nonEmpty)
      }
    }
  }

  test("random string-keyed triangles: dictionary-encoded WCOJ join == naive") {
    // the WcojJoin.join dictionary path (encode -> WCOJ on codes -> decode)
    // must agree with binary natural joins on arbitrary string domains,
    // including values that collide after naive numeric coercions
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 4) {
      val domain = (0 until 12).map(i => s"v${i}_${rnd.alphanumeric.take(3).mkString}") ++
        Seq("0", "00", "1e3", "+1", " 1") // numeric-coercion traps
      val e = Seq.fill(140)((domain(rnd.nextInt(domain.size)), domain(rnd.nextInt(domain.size))))
        .distinct.filter(p => p._1 != p._2)
      val edges = e.toDF("src", "dst")
      val rels = Seq(
        (edges.select($"src".as("a"), $"dst".as("b")), Seq("a", "b")),
        (edges.select($"src".as("b"), $"dst".as("c")), Seq("b", "c")),
        (edges.select($"dst".as("a"), $"src".as("c")), Seq("a", "c")))
      def canonS(df: DataFrame): Set[(String, String, String)] =
        df.select("a", "b", "c").as[(String, String, String)].collect().toSet
      withClue(s"string triangle trial $trial: ") {
        val base = canonS(naive(rels))
        assert(canonS(WcojJoin.join(spark, rels, Seq("a", "b", "c"))) === base)
        assert(canonS(MultiwayJoin.join(rels, wcoj = true)) === base, "wcoj-routed")
      }
    }
  }

  test("random hypergraphs: naive == GHD == Yannakakis == hypercube") {
    val rnd = new scala.util.Random(2026)
    for (trial <- 1 to 8) {
      val nRels = 2 + rnd.nextInt(3)
      // connected hypergraph: each relation shares >=1 attr with the previous
      var used = Vector(attrPool(rnd.nextInt(2)))
      val rels = (0 until nRels).map { _ =>
        val shared = used(rnd.nextInt(used.size))
        val fresh = attrPool(rnd.nextInt(attrPool.size))
        val attrs = Seq(shared, fresh).distinct
        used = (used ++ attrs).distinct
        val arity = attrs.size
        val rows = Seq.fill(30 + rnd.nextInt(40))(
          Seq.fill(arity)(rnd.nextInt(6).toLong)).distinct
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq(_))),
          org.apache.spark.sql.types.StructType(attrs.map(a =>
            org.apache.spark.sql.types.StructField(a, org.apache.spark.sql.types.LongType, nullable = false))))
        (df, attrs)
      }
      val outCols = rels.flatMap(_._2).distinct.sorted
      withClue(s"trial $trial over ${rels.map(_._2.mkString("")).mkString(",")}: ") {
        val base = canon(naive(rels), outCols)
        assert(canon(MultiwayJoin.join(rels), outCols) === base, "GHD")
        assert(canon(MultiwayJoin.join(rels, reduce = true), outCols) === base, "Yannakakis")
        // inputs are distinct rows (set semantics), so the wcoj-routed
        // variant must also agree — cyclic bags go through LeapFrog
        assert(canon(MultiwayJoin.join(rels, wcoj = true), outCols) === base, "wcoj-routed")
        // hypercube needs SET-semantics inputs (they are: .distinct rows) and
        // an attr order; output arity == all attrs
        assert(viaGrid(rels, outCols) === base, "hypercube")
      }
    }
  }

  test("random embeddings: mutualKnnIvf with full probes == exact mutualKnn") {
    // the IVF confinement must be a PURE candidate-pruning change: with
    // probes covering every cell, nothing is pruned and the graphs agree
    // bit-for-bit on arbitrary vectors (dims, norms, duplicates included)
    val rnd = new scala.util.Random(185)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(40)
      val dim = 4 + rnd.nextInt(5)
      val vecs = (0L until n.toLong).map { i =>
        (i, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      }.toDF("vec_id", "embedding")
      val centroidMod = 10 + rnd.nextInt(10)
      val nCents = (0 until n).count(_ % centroidMod == 0)
      withClue(s"trial $trial n=$n dim=$dim mod=$centroidMod: ") {
        val exact = graft.operators.Similarity
          .mutualKnn(vecs, "embedding", "vec_id", k = 4)
          .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet
        val conf = graft.operators.Similarity
          .mutualKnnIvf(vecs, "embedding", "vec_id", k = 4,
            centroidMod = centroidMod, probes = nCents)
          .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet
        assert(conf === exact)
      }
    }
  }

  test("random Zipf corpora: salted edit-distance pair set == unsalted") {
    // salting is a pure execution change at any salt factor: every a<b
    // pair must meet exactly once whatever the salt distribution
    val rnd = new scala.util.Random(157)
    val heads = Vector("the", "a", "of", "zz")
    for (trial <- 1 to 3) {
      val docs = (1L to 150L).map { i =>
        val head = heads(math.min(rnd.nextInt(heads.length * 2), heads.length - 1))
        val tail = Seq.fill(3 + rnd.nextInt(4))("w" + rnd.nextInt(12)).mkString(" ")
        (i, s"$head $tail")
      }.toDF("doc_id", "text")
      withClue(s"trial $trial: ") {
        val base = graft.operators.Dedup
          .editDistanceNearDup(docs, "text", "doc_id", saltFactor = 1)
          .as[(Long, Long, Long)].collect().toSet
        for (s <- Seq(2, 5, 8)) {
          val salted = graft.operators.Dedup
            .editDistanceNearDup(docs, "text", "doc_id", saltFactor = s)
            .as[(Long, Long, Long)].collect().toSet
          assert(salted === base, s"saltFactor=$s")
        }
      }
    }
  }

  test("random groups: routed prefix ranks agree across the conf boundary") {
    // the measured-small routing must be invisible in results for any
    // group skew / tie-free order, both groupedRowNumbers and totals
    val rnd = new scala.util.Random(32)
    for (trial <- 1 to 3) {
      val rows = (1L to 400L).map { i =>
        (i, "g" + rnd.nextInt(1 + rnd.nextInt(6)), rnd.nextInt(50).toLong)
      }.toDF("id", "grp", "v")
      def ranks(cap: String): Set[(Long, String, Long)] = {
        withConf(graft.Small.Key -> cap)(graft.operators.Packing
          .groupRunningTotals(rows, "grp", "id", col("v"), 8)
          .select("doc_id", "grp", "cum").as[(Long, String, Long)].collect().toSet)
      }
      withClue(s"trial $trial: ") {
        assert(ranks("0") === ranks((32L << 20).toString))
      }
    }
  }

  test("random grid-point corpora: sq8TopK == cosineTopK bit-for-bit") {
    // values are integers 0..255 (exact floats) with per-dim anchors
    // pinning [min,max] to [0,255], so the 256-point quantizer grid IS the
    // value set and dequantization must reconstruct losslessly on
    // arbitrary such corpora
    val rnd = new scala.util.Random(192)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(30)
      val dim = 3 + rnd.nextInt(5)
      val body = (2L until n.toLong).map { i =>
        (i, Seq.fill(dim)(rnd.nextInt(256).toFloat))
      }
      val vecs = ((0L, Seq.fill(dim)(0.0f)) +: (1L, Seq.fill(dim)(255.0f)) +: body)
        .toDF("vec_id", "embedding")
      withClue(s"trial $trial n=$n dim=$dim: ") {
        def rows(df: DataFrame) =
          df.select("query_id", "vec_id", "cos", "rank")
            .as[(Long, Long, Double, Int)].collect().toSet
        val exact = rows(Similarity.topK(
          vecs.filter($"vec_id" < 4), Frame(vecs), "embedding", "vec_id", 5))
        val sq = rows(Similarity.topK(
          vecs.filter($"vec_id" < 4), Frame(vecs), "embedding", "vec_id", 5,
          code = Sq8))
        assert(sq === exact)
      }
    }
  }

  test("random embeddings: ivfSq8TopK with full probes == sq8TopK; full shortlist rerank == exact") {
    // cell confinement and the coarse-prefix funnel are PURE candidate-
    // pruning changes: with probes covering every cell / a corpus-sized
    // shortlist, nothing is pruned and results agree bit-for-bit on
    // arbitrary vectors
    val rnd = new scala.util.Random(193)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(30)
      val dim = 4 + rnd.nextInt(5)
      val vecs = (0L until n.toLong).map { i =>
        (i, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      }.toDF("vec_id", "embedding")
      val q = vecs.filter($"vec_id" < 3)
      val centroidMod = 8 + rnd.nextInt(8)
      val nCents = (0 until n).count(_ % centroidMod == 0)
      withClue(s"trial $trial n=$n dim=$dim mod=$centroidMod: ") {
        def rows(df: DataFrame) =
          df.select("query_id", "vec_id", "cos")
            .as[(Long, Long, Double)].collect().toSet
        val sq = rows(Similarity.topK(
          q, Frame(vecs), "embedding", "vec_id", 4, code = Sq8))
        val comp = rows(Similarity.topK(
          q, Frame(vecs), "embedding", "vec_id", 4,
          Ivf(centroidMod, probes = nCents), Sq8))
        assert(comp === sq)
        val exact = rows(Similarity.topK(
          q, Frame(vecs), "embedding", "vec_id", 4))
        val fun = rows(Similarity.topK(
          q, Frame(vecs), "embedding", "vec_id", 4,
          Prefix(dims = 1 + rnd.nextInt(dim), shortlist = n)))
        assert(fun === exact)
      }
    }
  }
}
