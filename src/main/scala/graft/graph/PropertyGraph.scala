package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Pin, Rounds}
import PatternParser._

/** Property graph over two DataFrames — the reference's `SeccoGraphFrame`
  * (SeccoGraphFrame.scala:24-146) re-expressed GraphFrames-style:
  * a vertex relation (id, label?, props...) and an edge relation
  * (src, dst, label?, props...). All graph ops lower to DataFrame plans so
  * Catalyst owns distribution; iterative ops are driver loops with lineage
  * truncation (the reference's Recursion operator, graphOperators.scala:189).
  *
  * Scale notes: pattern matching emits a join-only plan (shuffle/broadcast
  * chosen by AQE); message passing shuffles on vertex id each round — edges
  * are hash-partitioned by src once and persisted so the per-round join
  * reuses the edge-side layout.
  */
final case class PropertyGraph(
    vertices: DataFrame,
    edges: DataFrame,
    idCol: String = "id",
    srcCol: String = "src",
    dstCol: String = "dst",
    vLabelCol: String = "label",
    eLabelCol: String = "label") {

  /** Reference: node() — a `???` stub there (SeccoGraphFrame.scala:52). */
  def node(): DataFrame = vertices

  /** Reference: edge() (SeccoGraphFrame.scala:55). */
  def edge(): DataFrame = edges

  /** Filtered subgraph (SeccoGraphFrame.scala:57-67): vertices by vFilter,
    * edges by eFilter AND both endpoints surviving the vertex filter.
    */
  def subgraph(vFilter: Option[String], eFilter: Option[String]): PropertyGraph = {
    val v = vFilter.map(f => vertices.filter(expr(f))).getOrElse(vertices)
    val e0 = eFilter.map(f => edges.filter(expr(f))).getOrElse(edges)
    val e =
      if (vFilter.isEmpty) e0
      else {
        val ids = v.select(col(idCol))
        e0.join(ids.withColumnRenamed(idCol, srcCol), Seq(srcCol), "left_semi")
          .join(ids.withColumnRenamed(idCol, dstCol), Seq(dstCol), "left_semi")
      }
    copy(vertices = v, edges = e)
  }

  /** Match a Cypher-ish pattern (SeccoGraphFrame.scala:80-94): each pattern
    * edge becomes a filtered copy of the edge relation with columns renamed
    * to its variable names (MatchingEdgeRelation), a bidirectional edge
    * becomes the union of both directions, copies combine via the GHD-guided
    * multiway-join planner, and the named node variables are projected
    * (ResolveSubgraphQuery, analysis/rules/resolve.scala:356-421).
    *
    * Semantics by route. The default binary route keeps BAG semantics:
    * parallel edges yield one row per distinct edge WITNESS, like the SQL
    * self-join it lowers to (`.distinct()` the result for set semantics).
    * `wcoj = true` routes the pattern's maximal cyclic core (the edges GYO
    * ear reduction cannot remove) through ONE worst-case-optimal
    * LeapFrogJoin per core component — output-bounded by AGM; splitting a
    * core across GHD bags could hand an acyclic bag whose star join
    * materializes a non-output-bounded cube (r13) — while pendant tails and
    * other acyclic periphery join around the core binarily (r14; linear
    * beats trie enumeration there). It imposes SET semantics: edge copies
    * are deduplicated first, so a binding appears once per distinct variable
    * assignment. The two routes differ exactly when the input is a
    * multigraph or a bidirectional pattern edge matches both stored
    * directions (spec-pinned: wcoj == binary.distinct() there).
    *
    * @param wcoj route the pattern's cyclic core through the
    *   worst-case-optimal LeapFrog Catalyst node (the reference planner's
    *   MultiwayJoin→trie+leapfrog strategy) — set semantics, see above.
    */
  def pattern(p: String, wcoj: Boolean = false): DataFrame = {
    val pat = PatternParser.parse(p)

    def edgeCopy(pe: PatternEdge): DataFrame = {
      def directional(src: NodePat, dst: NodePat): DataFrame = {
        var e = pe.edge.labels.foldLeft(edges)((d, l) => d.filter(col(eLabelCol) === l))
        e = pe.edge.props.foldLeft(e) { case (d, (k, v)) => d.filter(col(k) === expr(v)) }
        val base =
          if (src.name == dst.name) // self-loop pattern (a)-[]->(a)
            e.filter(col(srcCol) === col(dstCol)).select(col(srcCol).as(src.name))
          else e.select(col(srcCol).as(src.name), col(dstCol).as(dst.name))
        Seq(src, dst).distinct.foldLeft(base)((d, n) => nodeConstrain(d, n))
      }
      pe.direction match {
        case Left2Right => directional(pe.src, pe.dst)
        case Right2Left => directional(pe.dst, pe.src)
        // unionByName: the reversed copy's columns come out in (dst, src)
        // order and Spark's union is positional.
        case BiDirection => directional(pe.src, pe.dst).unionByName(directional(pe.dst, pe.src))
      }
    }

    /** node label/prop filters = semi join against the vertex relation. */
    def nodeConstrain(df: DataFrame, n: NodePat): DataFrame =
      if (n.labels.isEmpty && n.props.isEmpty) df
      else {
        var v = n.labels.foldLeft(vertices)((d, l) => d.filter(col(vLabelCol) === l))
        v = n.props.foldLeft(v) { case (d, (k, value)) => d.filter(col(k) === expr(value)) }
        df.join(v.select(col(idCol).as(n.name)), Seq(n.name), "left_semi")
      }

    // combine edge copies via the GHD-guided multiway-join planner: cyclic
    // patterns (triangles, cycles, cliques) get their cyclic core grouped in
    // one bag instead of a blow-up-prone left-to-right chain (SURVEY §7.5).
    // With more than one bag AND a selective pattern (label/prop constraints
    // anywhere), Yannakakis semijoin reduction sweeps the GHD tree first
    // (the reference's OptimizeMultiwayJoin intent, optimization/rules/
    // join.scala:233-270) so no bag carries rows that cannot reach the final
    // result. Unconstrained patterns skip the sweeps: with nothing filtered,
    // every bag row can reach the result and the two extra semijoin passes
    // (plus bag materialization) are pure overhead.
    val copies0 = pat.edges.map(edgeCopy)
    val copies = if (wcoj) copies0.map(_.distinct()) else copies0
    val rels = copies.map(c => (c, c.columns.toSeq))
    val multiBag = graft.plans.MultiwayJoin.plan(rels.map(_._2)).bags.size > 1
    val selective = pat.edges.exists(pe =>
      pe.edge.labels.nonEmpty || pe.edge.props.nonEmpty ||
        Seq(pe.src, pe.dst).exists(n => n.labels.nonEmpty || n.props.nonEmpty))
    val joined = graft.plans.MultiwayJoin.join(rels,
      reduce = multiBag && selective, wcoj = wcoj)
    val vars = pat.nodeVariables.filter(joined.columns.contains)
    if (vars.isEmpty) joined else joined.select(vars.map(col): _*)
  }

  /** Register a pattern's matches as a temp view — the SQL-side
    * `MATCH(graph, pattern)` FROM-clause capability (SQLParser.scala:240-246):
    * `g.patternView("triangles", "(a)-[]->(b)-[]->(c); (c)-[]->(a)")` then
    * `spark.sql("SELECT count(*) FROM triangles")`.
    */
  def patternView(name: String, p: String): Unit =
    pattern(p).createOrReplaceTempView(name)

  /** Pregel-style message passing (SeccoGraphFrame.scala:104-146), rounds
    * unrolled by [[graft.Rounds]] (the reference wraps in Recursion(plan, round)).
    *
    * Expression vocabulary, all Spark SQL strings:
    *   - `initialMessage`: over vertex columns → initial `state`
    *   - `message`: over edge columns + `state` (source vertex's) → `msg`
    *     emitted to the edge's destination
    *   - `mergeFunction`: aggregate over `msg` grouped by destination → `newState`
    *   - `updateFunction`: over `state`, `newState` (null when no message) → next `state`
    *
    * Returns (id, state), checkpointed every round.
    */
  def messagePassing(
      message: String,
      mergeFunction: String,
      updateFunction: String,
      initialMessage: Option[String] = None,
      round: Int = 1): DataFrame = {
    require(round >= 1, "number of round should be greater or equal than 1")
    val init = vertices
      .select(col(idCol).as("id"), expr(initialMessage.getOrElse("null")).as("state"))
    Pin.cached(edges.withColumnRenamed(srcCol, "__src").withColumnRenamed(dstCol, "__dst")
        .repartition(col("__src"))) { edgesBySrc =>
      Rounds.run(init, round) { (state, _) =>
        val msgs = edgesBySrc
          .join(state.withColumnRenamed("id", "__src"), Seq("__src"))
          .select(col("__dst").as("id"), expr(message).as("msg"))
        val merged = msgs.groupBy("id").agg(expr(mergeFunction).as("newState"))
        state.join(merged, Seq("id"), "left")
          .select(col("id"), expr(updateFunction).as("state"))
      }
    }
  }

  /** Directed 3-cycle count — the reference's flagship subgraph query S1
    * (benchmark/testcases/subgraphQuery.scala:25). Each cycle {a,b,c} is
    * counted once (a < b, a < c canonicalization).
    */
  def triangleCount(): Long = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
    val e2 = e.select(col("a").as("b"), col("b").as("c"))
    val e3 = e.select(col("a").as("c"), col("b").as("a"))
    e.join(e2, "b" :: Nil).join(e3, Seq("c", "a"))
      .filter(col("a") < col("b") && col("a") < col("c"))
      .count()
  }

  /** Per-vertex directed-triangle participation counts: how many distinct
    * 3-cycles pass through each vertex (each cycle counted once per member).
    * Same canonical enumeration as [[triangleCount]], then an explode+count
    * over the three members — vertices in no triangle are absent.
    */
  def trianglesPerVertex(): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
    val e2 = e.select(col("a").as("b"), col("b").as("c"))
    val e3 = e.select(col("a").as("c"), col("b").as("a"))
    e.join(e2, "b" :: Nil).join(e3, Seq("c", "a"))
      .filter(col("a") < col("b") && col("a") < col("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient on the UNDIRECTED closure of the edge
    * set: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) the undirected
    * triangles through v and deg(v) the distinct-neighbor count;
    * vertices of degree < 2 report 0. The how-clustered-is-my-graph
    * signal community pipelines threshold on.
    *
    * Scale shape: the undirected closure is one union+distinct; triangles
    * enumerate once over canonical a<b<c edges (two shuffle joins on
    * vertex keys — the standard distributed triangle plan, work bounded
    * by Σ deg², never all-pairs); the coefficient is a ratio of exact
    * integers so any engine agrees bit-for-bit after one round.
    */
  def clusteringCoefficient(): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
    val canon = und.filter(col("a") < col("b"))
    val e2 = canon.select(col("a").as("b"), col("b").as("c"))
    val e3 = canon.select(col("a").as("a"), col("b").as("c"))
    val tri = canon.join(e2, "b" :: Nil).join(e3, Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** PageRank, fixed iterations (reference benchmark I1,
    * benchmark/testcases/graphAnalytic.scala:11-75): contributions along
    * out-edges, damping 0.85, dangling nodes keep the base term. The
    * uniform-teleport case of [[personalizedPageRank]].
    */
  def pageRank(iterations: Int, damping: Double = 0.85): DataFrame =
    randomWalk(iterations, damping, teleport = lit(1.0))

  /** Personalized PageRank: random walks restart at the `sources` set
    * instead of uniformly — rank becomes proximity TO the seeds, the
    * "related entities" / seed-expansion primitive (find documents
    * topically near a trusted set, accounts near known-bad ones). Same
    * per-round shape as [[pageRank]]; only the teleport vector differs:
    * mass (1−d)/|S| re-enters at the seeds each round and nowhere else, and
    * the walk starts there too.
    */
  def personalizedPageRank(iterations: Int, sources: Seq[Long],
      damping: Double = 0.85): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs at least one seed")
    randomWalk(iterations, damping, teleport = when(col("id").isInCollection(sources),
      lit(1.0 / sources.size)).otherwise(lit(0.0)))
  }

  /** Rank by `iterations` rounds of one contrib join + one aggregate; the
    * walk starts at, and (1−d) of the mass re-enters at, `teleport` (a
    * per-vertex weight over column `id`).
    */
  private def randomWalk(iterations: Int, damping: Double, teleport: Column): DataFrame = {
    val nodes = vertices.select(col(idCol).as("id"))
    val outDeg = edges.groupBy(col(srcCol).as("id")).agg(count(lit(1)).as("deg"))
    val ranked = nodes.join(outDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"), teleport.as("rank"))
    Pin.cached(edges.select(col(srcCol).as("id"), col(dstCol).as("dst"))
        .repartition(col("id"))) { e =>
      Rounds.run(ranked, iterations) { (state, _) =>
        val contribs = e.join(state.filter(col("deg") > 0), Seq("id"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("contrib"))
        val sums = contribs.groupBy("id").agg(sum("contrib").as("contrib"))
        state.join(sums, Seq("id"), "left")
          .select(col("id"), col("deg"),
            (lit(1.0 - damping) * teleport +
              lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      }
    }.select(col("id"), col("rank"))
  }

  /** Connected components by iterative hash-min label propagation over the
    * undirected edge set (reference benchmark I2 "WCC"). Runs to
    * convergence; `maxIterations` bounds the loop. The rounds run go to the
    * query's [[graft.QueryTrace]] as `rounds`.
    *
    * @param pointerJump also adopt label(label(v)) each round, composing
    *   propagation paths: O(log diameter) rounds instead of O(diameter) at
    *   the cost of one extra join per round. Defaults ON, but ADAPTIVE: the
    *   first [[PropertyGraph.PointerJumpAfter]] rounds run plain hash-min,
    *   and jumping only engages if the graph has not converged by then.
    *   Small-diameter graphs (the common social/web case) converge inside
    *   the plain prefix and never pay the extra join; long-path graphs (road
    *   networks, chains) switch to composition and finish in
    *   O(log diameter) rounds — each Spark round is a full shuffle barrier,
    *   so round count dominates at scale.
    */
  def connectedComponents(maxIterations: Int = 50, pointerJump: Boolean = true): DataFrame =
    Pin.cached(undirected) { und =>
      Rounds.run(vertices.select(col(idCol).as("id"), col(idCol).cast("long").as("component")),
          maxIterations, unchanged("component"), pinInit = true) { (state, i) =>
        val nbrMin = und.join(state.withColumnRenamed("id", "a"), Seq("a"))
          .groupBy(col("b").as("id")).agg(min("component").as("nbrComponent"))
        val relaxed = state.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("component").as("prev"),
            least(col("component"), coalesce(col("nbrComponent"), col("component"))).as("c1"))
        if (!pointerJump || i < PropertyGraph.PointerJumpAfter)
          relaxed.select(col("id"), col("prev"), col("c1").as("component"))
        else {
          // label(label(v)): component labels are always vertex ids, so the
          // lookup side is the same relaxed frame re-keyed by id.
          val lookup = relaxed.select(col("id").as("c1"), col("c1").as("jump"))
          relaxed.join(lookup, Seq("c1"), "left")
            .select(col("id"), col("prev"),
              least(col("c1"), coalesce(col("jump"), col("c1"))).as("component"))
        }
      }
    }.select("id", "component")

  /** Synchronous label-propagation community detection, deterministic:
    * labels start as vertex ids; each round every vertex adopts its
    * neighbors' most frequent label (ties → the smallest label; isolated
    * vertices keep their own). A FIXED round count — synchronous LPA can
    * oscillate on bipartite structure, so a fixed horizon both terminates
    * and keeps the output a pure function of the graph, which is what lets
    * the DuckDB oracle unroll the identical rounds. Per round: one shuffle
    * on the undirected edge join + one (vertex, label) count — the same
    * envelope as a round of [[connectedComponents]].
    */
  def labelPropagation(rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // the initial state is pinned and every round checkpointed: state feeds
    // BOTH sides of the join (directly, and inside winners' counts), so a
    // lazy chain would re-derive each round's state twice per successor —
    // 2^rounds blowup. Materializing keeps every round executed exactly once.
    Pin.cached(undirected) { und =>
      Rounds.run(vertices.select(col(idCol).as("id"), col(idCol).cast("long").as("lbl")),
          rounds, pinInit = true) { (state, _) =>
        val counts = und.join(state.withColumnRenamed("id", "a"), Seq("a"))
          .groupBy(col("b").as("id"), col("lbl")).agg(count(lit(1)).as("cnt"))
        // the round winner (cnt DESC, lbl ASC) as a lexicographic struct max
        // — a map-side-combinable aggregate instead of a per-id window, which
        // costs a sort of every (id, lbl) pair each round; negating the label
        // turns "smallest label" into the max ordering. Semantics identical
        // to row_number()=1 over (cnt DESC, lbl ASC): counts are exact longs,
        // so (cnt, -lbl) pairs are totally ordered with no rounding ties.
        val winners = counts
          .groupBy("id")
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("id"), (-col("m.nl")).as("newLbl"))
        state.join(winners, Seq("id"), "left")
          .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl"))
      }
    }.select(col("id"), col("lbl").as("community"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop vertices
    * whose degree WITHIN the surviving subgraph is below `k`, to the
    * fixpoint (the maximal subgraph of minimum degree ≥ k — the classic
    * densely-connected-region extractor). Deterministic — the fixpoint is
    * unique — and idempotent after convergence, so the oracle can unroll a
    * fixed generous round count and agree exactly. Per round: two semi
    * joins against the shrinking vertex set + one count — edges partitioned
    * and persisted once.
    */
  def kCore(k: Int, maxRounds: Int = 15): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var n = -1L // vertices the previous round kept
    // count() scans every partition, so it materializes the lazy checkpoint
    // AND returns the survivor count in one job per round
    val peeled = Rounds.Scan { (prev, next) =>
      if (n < 0) n = prev.count()
      val m = next.count()
      val same = m == n
      n = m
      same
    }
    // the contract is the FIXPOINT — returning a non-converged superset
    // silently (deep-peeling graphs like long paths shrink by O(1) per
    // round) would be a wrong answer, so fail loudly instead
    val notConverged = () => new IllegalStateException(
      s"kCore(k=$k) did not converge within $maxRounds rounds ($n vertices still shrinking); raise maxRounds")
    Pin.cached(undirected) { und =>
      Rounds.run(vertices.select(col(idCol).as("id")), maxRounds, peeled,
          pinInit = true, notConverged = Some(notConverged)) { (keep, _) =>
        und
          .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
          .groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("id")
      }
    }
  }

  /** Single-source shortest paths over unit edge weights (reference benchmark
    * I3 "SSSP" with weight support via `weightExpr`).
    */
  def sssp(source: Column, weightExpr: Option[String] = None, maxIterations: Int = 50): DataFrame = {
    val w = weightExpr.map(expr).getOrElse(lit(1.0))
    Pin.cached(edges.select(col(srcCol).as("id"), col(dstCol).as("dst"), w.cast("double").as("w"))
        .repartition(col("id"))) { e =>
      Rounds.run(vertices.select(col(idCol).as("id"),
          when(col(idCol) === source, 0.0).otherwise(lit(Double.PositiveInfinity)).as("dist")),
          maxIterations, unchanged("dist"), pinInit = true) { (state, _) =>
        val relax = e.join(state.filter(col("dist") =!= Double.PositiveInfinity), Seq("id"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("cand"))
          .groupBy("id").agg(min("cand").as("cand"))
        state.join(relax, Seq("id"), "left")
          .select(col("id"), col("dist").as("prev"),
            least(col("dist"), coalesce(col("cand"), col("dist"))).as("dist"))
      }
    }.select("id", "dist")
  }

  /** The edge set in both directions, deduplicated, as (a, b) partitioned by a. */
  private def undirected: DataFrame =
    edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .repartition(col("a"))

  /** A [[graft.Rounds.Scan]] test for rounds that carry their previous value
    * of `c` as `prev`: one full-scan job counts the vertices that changed.
    */
  private def unchanged(c: String): Rounds.Stop = Rounds.Scan { (_, next) =>
    next.agg(count(when(col(c) =!= col("prev"), 1))).head().getLong(0) == 0
  }
}

object PropertyGraph {
  /** Rounds of plain hash-min before [[PropertyGraph.connectedComponents]]
    * engages pointer jumping.
    */
  private val PointerJumpAfter = 3

  /** Lift an edge list to a graph; vertex set derived from edge endpoints
    * (SeccoDataFrame.toGraph, SeccoDataFrame.scala:312-314).
    */
  def fromEdges(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): PropertyGraph = {
    val vertices = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct()
    PropertyGraph(vertices, edges, "id", srcCol, dstCol)
  }
}
