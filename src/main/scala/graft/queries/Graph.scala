package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryTrace, Tables}
import graft.graph.PropertyGraph

/** Graph operator inventory (SURVEY.md §2.6): subgraph pattern matching,
  * message passing, and the reference's graph-analytic benchmarks I1-I3
  * (PageRank / WCC / SSSP, benchmark/testcases/graphAnalytic.scala), driven
  * through [[PropertyGraph]].
  *
  * The graphs are derived relationally from the `orders` table so the DuckDB
  * oracle can build the identical graph:
  *   - dense graph: (o_custkey % 211) -> (o_orderkey % 211), ~13k edges / 211 nodes
  *   - sparse graph: same modulo 997, thinned to o_orderkey % 17 = 0
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Dense derived edge list — both sides of the oracle build exactly this. */
  private def denseEdges(t: Tables): DataFrame =
    t.orders
      .select((col("o_custkey") % 211).as("src"), (col("o_orderkey") % 211).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  private val denseEdgesSql =
    """SELECT DISTINCT o_custkey % 211 AS src, o_orderkey % 211 AS dst
      |FROM orders WHERE o_custkey % 211 <> o_orderkey % 211""".stripMargin

  /** Medium-density graph (~avg degree 14 at sf0.01): has 4-cycles at every
    * SF (sparse has none; dense makes path-3 enumeration explode).
    */
  private def mediumEdges(t: Tables): DataFrame =
    t.orders.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_custkey") % 211).as("src"), (col("o_orderkey") % 211).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  private val mediumEdgesSql =
    """SELECT DISTINCT o_custkey % 211 AS src, o_orderkey % 211 AS dst
      |FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey % 211 <> o_orderkey % 211""".stripMargin

  private def sparseEdges(t: Tables): DataFrame =
    t.orders.filter(col("o_orderkey") % 17 === 0)
      .select((col("o_custkey") % 997).as("src"), (col("o_orderkey") % 997).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  private val sparseEdgesSql =
    """SELECT DISTINCT o_custkey % 997 AS src, o_orderkey % 997 AS dst
      |FROM orders WHERE o_orderkey % 17 = 0 AND o_custkey % 997 <> o_orderkey % 997""".stripMargin

  /** Degree-capped dense graph + a deterministic directed 5-clique seed on
    * vertices 1001–1005 (disjoint from the mod-211 data range): the
    * 5-vertex reference patterns S5–S8 need a graph where matches are
    * DATA-BORNE and grow with SF (the round-12 thinned sparse graph had
    * none at sf0.01 — every match came from the seed) without the medium
    * graph's density, where 5-vertex enumeration explodes at sf0.1
    * (measured: S5 on medium = 5.6e9 bindings). Capping each vertex to its
    * 6 smallest out-neighbors bounds any 5-vertex pattern's bindings at
    * V·6⁴ while the edge CONTENT still shifts with SF (more orders → more
    * low-dst candidates win the cap), so match mass comes from the data
    * and grows across SFs (measured S5: 949 → 18,918 → 196,204 at
    * sf0.001/0.01/0.1; S7 data-borne from sf0.01 on). The seed keeps a
    * deterministic floor so sf0.001 smoke rows exist for every shape.
    */
  private def seededCappedEdges(s: SparkSession, t: Tables): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seed = (for { u <- 1001L to 1005L; v <- 1001L to 1005L; if u != v }
      yield (u, v)).toDF("src", "dst")
    val w = Window.partitionBy("src").orderBy("dst")
    denseEdges(t)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 6)
      .select("src", "dst")
      .unionByName(seed)
      .distinct()
  }

  private val seedCliqueSql: String =
    (for { u <- 1001 to 1005; v <- 1001 to 1005; if u != v } yield s"($u, $v)")
      .mkString(", ")

  private val seededCappedEdgesSql =
    s"""SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM ($denseEdgesSql))
       |  WHERE rn <= 6
       |  UNION ALL SELECT CAST(src AS BIGINT), CAST(dst AS BIGINT)
       |  FROM (VALUES $seedCliqueSql) t(src, dst))""".stripMargin

  /** route pin for the wcoj-routed pattern gates (the q186 pattern): the
    * literal the oracle expects is only emitted when the executed plan
    * actually contains the LeapFrogJoin Catalyst node — a silent fallback
    * to binary joins hash-mismatches. Call sites pass the AGGREGATED gate
    * frame, not the bare pattern frame: the round-12 pruning bug only
    * manifested with an Aggregate directly above the WCOJ node, so pinning
    * the pre-aggregate plan would miss exactly the fallback class the pin
    * exists to catch.
    */
  private def wcojRouteOf(df: DataFrame): String =
    if (df.queryExecution.executedPlan.toString.contains("LeapFrogJoin")) "leapfrog"
    else "binary"

  /** route pin for the HYBRID core+periphery planner (r14): 'hybrid' only
    * when the executed plan carries BOTH a LeapFrogJoin (the cyclic core
    * bag) and a binary join operator (the acyclic periphery) — a silent
    * collapse to either pure route hash-mismatches the oracle literal.
    */
  private def hybridRouteOf(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    val lf = p.contains("LeapFrogJoin")
    val bin = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .exists(p.contains)
    if (lf && bin) "hybrid" else if (lf) "leapfrog" else "binary"
  }

  val queries: Map[String, Q] = Map(
    // directed triangle (3-cycle) via the Cypher-ish pattern API — reference
    // subgraph query S1; exercises PatternParser + natural-join lowering.
    "q40_triangle" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.pattern("(a)-[]->(b)-[]->(c); (c)-[]->(a)")
        .filter(col("a") < col("b") && col("a") < col("c"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // 2-hop path pattern (a)->(b)->(c), a != c.
    "q41_pattern_2hop" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.pattern("(a)-[]->(b)-[]->(c)")
        .filter(col("a") =!= col("c"))
        .agg(count(lit(1)).as("n_paths"))
    }),

    // PageRank, 3 fixed iterations (reference I1).
    "q42_pagerank" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.pageRank(3)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy("id")
    }),

    // personalized PageRank from seeds {0, 1}: proximity to the seed set,
    // the seed-expansion primitive. Same per-round shape as q42; only the
    // teleport vector differs.
    "q166_ppr" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.personalizedPageRank(3, sources = Seq(0L, 1L))
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy("id")
    }),

    // weakly-connected components to convergence (reference I2).
    "q43_wcc" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(sparseEdges(Tables(s, d)))
      g.connectedComponents().orderBy("id")
    }),

    // unit-weight SSSP from node 0 on the dense graph (reference I3);
    // unreachable nodes excluded on both sides.
    "q44_sssp" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.sssp(lit(0L))
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("id"), col("dist").cast("long").as("dist"))
        .orderBy("id")
    }),

    // triangle count again, but through the worst-case-optimal LeapFrog
    // multiway join as a Catalyst plan node (LeapFrogJoinPlan/Exec via
    // WcojStrategy) instead of binary hash joins — same oracle as the
    // binary-join formulation, different physical algorithm.
    "q47_wcoj_triangle" -> ((s, d) => {
      val e = denseEdges(Tables(s, d))
      graft.wcoj.WcojJoin.join(s, Seq(
          (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
          (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
          (e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c"))),
        Seq("a", "b", "c"))
        .filter(col("a") < col("b") && col("a") < col("c"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // the same 4-cycle through the Catalyst WCOJ node: bounded intermediates
    // beat the binary-join path ~2.8x on this query (27.8M bindings at
    // sf0.1; lazy iterator enumeration, no per-binding allocation).
    "q48_wcoj_4cycle" -> ((s, d) => {
      val e = mediumEdges(Tables(s, d))
      graft.wcoj.WcojJoin.join(s, Seq(
          (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
          (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
          (e.select(col("src").as("c"), col("dst").as("e")), Seq("c", "e")),
          (e.select(col("dst").as("a"), col("src").as("e")), Seq("a", "e"))),
        Seq("a", "b", "c", "e"))
        .filter(col("a") < col("b") && col("a") < col("c") && col("a") < col("e"))
        .agg(count(lit(1)).as("n_cycles"))
    }),

    // the string-keyed WCOJ path under the hard gate: the same dense
    // triangle, but over OPAQUE ENTITY KEYS ('ent-<n>') instead of longs —
    // an entity-resolution-style cyclic self-join. WcojJoin.join
    // dictionary-encodes each attribute (distinct values ranked by one
    // range shuffle + zipWithIndex), runs the Catalyst LeapFrogJoin on the
    // dense codes, and decodes the bindings back to strings; the full
    // binding ENUMERATION (not a count) is emitted so the decode joins are
    // part of the compared result.
    "q120_wcoj_string_triangle" -> ((s, d) => {
      val e = denseEdges(Tables(s, d)).select(
        concat(lit("ent-"), col("src").cast("string")).as("u"),
        concat(lit("ent-"), col("dst").cast("string")).as("v"))
      graft.wcoj.WcojJoin.join(s, Seq(
          (e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b")),
          (e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c")),
          (e.select(col("v").as("a"), col("u").as("c")), Seq("a", "c"))),
        Seq("a", "b", "c"))
        .filter(col("a") < col("b") && col("a") < col("c"))
        .orderBy("a", "b", "c")
    }),

    // the HyperCube-routed WCOJ under the hard gate: same dense triangle as
    // q47, with the small-input cap at 0 (`graft.Small.withCap`), so
    // LeapFrogJoinExec never takes one cell and routes through the Shares
    // grid. The route is read off what actually ran —
    // the executed plan holds the LeapFrogJoin node and the count's own
    // trace saw more than one cell — so a silent fall-back to binary joins
    // or to one cell hash-mismatches the oracle's 'hypercube' literal.
    "q186_wcoj_hypercube" -> ((s, d) => {
      val e = denseEdges(Tables(s, d))
      val tri = graft.wcoj.WcojJoin.join(s, Seq(
          (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
          (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
          (e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c"))),
        Seq("a", "b", "c"))
        .filter(col("a") < col("b") && col("a") < col("c"))
        .agg(count(lit(1)).as("n_triangles"))
      // the exec reads the cap when its routing runs: count under it
      val (n, trace) = graft.Small.withCap(s, 0) {
        QueryTrace.run(s)(tri.collect()(0).getLong(0)) // one row
      }
      val ran = wcojRouteOf(tri) == "leapfrog"
      val cells = trace.get("wcoj.cells").fold(0)(_.toInt)
      val route = if (!ran) "binary" else if (cells > 1) "hypercube" else "single-cell"
      import s.implicits._
      Seq((n, route)).toDF("n_triangles", "route")
    }),

    // directed 4-cycle count on the sparse graph — a cyclic query whose join
    // order comes from the GHD planner (pattern() → MultiwayJoin).
    "q46_ghd_4cycle" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(mediumEdges(Tables(s, d)))
      g.pattern("(a)-[]->(b)-[]->(c)-[]->(e); (e)-[]->(a)")
        .filter(col("a") < col("b") && col("a") < col("c") && col("a") < col("e"))
        .agg(count(lit(1)).as("n_cycles"))
    }),

    // reference subgraph workload S3, the diamond a-b;b-c;c-d;d-a;b-d
    // (benchmark/testcases/subgraphQuery.scala:33-35), with the reference's
    // CountSubgraphBenchmark aggregate (count(*) by a) — through the GHD
    // BINARY route: the chord splits the 4-cycle into two triangle bags
    // sharing (b, d), so intermediates are triangle-bounded instead of
    // path-3-bounded. 54M bindings at sf0.1 on the medium graph.
    "q224_s3_diamond" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(mediumEdges(Tables(s, d)))
      g.pattern("(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a); (b)-[]->(d)")
        .groupBy("a").agg(count(lit(1)).as("cnt"))
        .orderBy("a")
    }),

    // reference subgraph workload S4, the directed 4-clique orientation
    // a-b;b-c;c-d;d-a;a-c;b-d (subgraphQuery.scala:37-39) — through the
    // WCOJ route (pattern(wcoj = true) → LeapFrogJoin Catalyst node), with
    // the executed-plan route pinned in-result: a silent fallback to
    // binary joins hash-mismatches the oracle's 'leapfrog' literal.
    "q225_s4_clique" -> ((s, d) => {
      // edges pinned: the WCOJ route's trie builds consume each edge copy
      // as a separate child scan (no ReusedExchange through the LeapFrog
      // node, unlike the binary route), so an unpinned frame recomputes
      // the scan+distinct once per pattern edge
      val g = PropertyGraph.fromEdges(mediumEdges(Tables(s, d)).localCheckpoint(true))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d); (d)-[]->(a); (b)-[]->(d); (a)-[]->(c)",
        wcoj = true)
      val agged = m.groupBy("a").agg(count(lit(1)).as("cnt"))
      agged.withColumn("route", lit(wcojRouteOf(agged))).orderBy("a")
    }),

    // reference subgraph workload S5, the 5-cycle + b-e chord "house"
    // a-b;b-c;c-d;d-e;a-e;b-e (subgraphQuery.scala:41-43) on the seeded
    // degree-capped graph — GHD binary route over a genuinely 5-variable
    // hypergraph with data-borne, SF-growing match mass (18,918 matches
    // at sf0.01 vs the 5-row seed floor of round 12).
    "q226_s5_house" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      g.pattern("(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e)")
        .groupBy("a").agg(count(lit(1)).as("cnt"))
        .orderBy("a")
    }),

    // reference subgraph workload S6 = S5 + c-e (subgraphQuery.scala:45-47)
    // — WCOJ route with the executed-plan route pinned in-result.
    "q227_s6_house_x" -> ((s, d) => {
      // pinned for the same reason as q225: one scan, not one per edge copy
      val g = PropertyGraph.fromEdges(
        seededCappedEdges(s, Tables(s, d)).localCheckpoint(true))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e); (c)-[]->(e)",
        wcoj = true)
      val agged = m.groupBy("a").agg(count(lit(1)).as("cnt"))
      agged.withColumn("route", lit(wcojRouteOf(agged))).orderBy("a")
    }),

    // reference subgraph workload S7, the 8-edge 5-vertex pattern
    // a-b;b-c;c-d;d-e;a-e;a-c;b-d;c-e (subgraphQuery.scala:49-51) — WCOJ
    // route: 8 edge relations over 5 attributes is exactly the hypergraph
    // shape where binary plans pay intermediate blow-up, pinned in-result.
    "q228_s7_dense5" -> ((s, d) => {
      // pinned for the same reason as q225: one scan, not one per edge copy
      val g = PropertyGraph.fromEdges(
        seededCappedEdges(s, Tables(s, d)).localCheckpoint(true))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (a)-[]->(c); (b)-[]->(d); (c)-[]->(e)",
        wcoj = true)
      val agged = m.groupBy("a").agg(count(lit(1)).as("cnt"))
      agged.withColumn("route", lit(wcojRouteOf(agged))).orderBy("a")
    }),

    // reference subgraph workload S8, a-b;b-c;c-d;d-e;a-e;b-d;b-e;c-e
    // (subgraphQuery.scala:53-55) — GHD binary route, so the S7/S8 pair
    // proves BOTH routes on the 8-edge 5-vertex shapes.
    "q229_s8_dense5" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(d); (b)-[]->(e); (c)-[]->(e)")
        .groupBy("a").agg(count(lit(1)).as("cnt"))
        .orderBy("a")
    }),

    // reference complex-subgraph workload C1 (subgraphQuery.scala:59-66):
    // the S5 edge set, then the reference's OWN composition — facade
    // `project` (DISTINCT π) to (b, d), facade `aggregate` count by b —
    // so the gate drives pattern() THROUGH EngineDataFrame exactly as the
    // reference's SubgraphBenchmark.genQuery chains Dataset ops.
    "q232_c1_proj_count" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e)")
      new graft.api.EngineSession(s).createDatasetFromSparkSQL(m)
        .project("b, d")
        .aggregate(Seq("count(1) AS cnt"), Seq("b"))
        .sort("b").df
    }),

    // reference C2 (subgraphQuery.scala:68-75): the S6 edge set projected
    // (distinct) to (b, c), counted by b — same facade chain.
    "q233_c2_proj_count" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e); (c)-[]->(e)")
      new graft.api.EngineSession(s).createDatasetFromSparkSQL(m)
        .project("b, c")
        .aggregate(Seq("count(1) AS cnt"), Seq("b"))
        .sort("b").df
    }),

    // reference C3 (subgraphQuery.scala:77-85): S5 plus a free vertex w
    // hanging off d — the weighted-pattern form, aggregate sum(w) by a
    // over the BAG of matches (no projection dedup).
    "q234_c3_weighted" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e); (d)-[]->(w)")
      new graft.api.EngineSession(s).createDatasetFromSparkSQL(m)
        .aggregate(Seq("sum(w) AS sum_w"), Seq("a"))
        .sort("a").df
    }),

    // reference C4 (subgraphQuery.scala:87-96): S6 + d-w, sum(w) by a.
    "q235_c4_weighted" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(seededCappedEdges(s, Tables(s, d)))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c)-[]->(d)-[]->(e); (a)-[]->(e); (b)-[]->(e); (c)-[]->(e); (d)-[]->(w)")
      new graft.api.EngineSession(s).createDatasetFromSparkSQL(m)
        .aggregate(Seq("sum(w) AS sum_w"), Seq("a"))
        .sort("a").df
    }),

    // cyclic-core + acyclic-tail pattern (r14): a triangle with a 3-hop
    // tail hanging off c, wcoj = true. GYO ear reduction leaves exactly the
    // triangle as the cyclic core, so the hybrid planner runs ONE LeapFrog
    // bag over {ab, bc, ca} and joins cd, de, ef around it binarily —
    // whole-query one-bag (r13) would pay trie-building and WCOJ
    // enumeration over three relations a linear join handles for free. The
    // in-result pin requires BOTH operator kinds in the executed plan.
    "q240_coretail_hybrid" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(
        seededCappedEdges(s, Tables(s, d)).localCheckpoint(true))
      val m = g.pattern(
        "(a)-[]->(b)-[]->(c); (c)-[]->(a); (c)-[]->(d)-[]->(e)-[]->(f)",
        wcoj = true)
      val agged = m.groupBy("a").agg(count(lit(1)).as("cnt"))
      agged.withColumn("route", lit(hybridRouteOf(agged))).orderBy("a")
    }),

    // the reference's SQL-text graph surface: MATCH(graph, pattern) as a
    // FROM-clause table (SQLParser.scala:240-246), resolved through the
    // named-graph catalog + SqlRewriter — same triangles as q40, reached
    // purely via SQL text.
    "q38_match_sql" -> ((s, d) => {
      val es = graft.api.EngineSession(s)
      es.createGraph("g_match_sql",
        PropertyGraph.fromEdges(denseEdges(Tables(s, d))))
      es.sql(
        "SELECT count(*) AS n_triangles " +
          "FROM MATCH(g_match_sql, (a)-[]->(b)-[]->(c); (c)-[]->(a)) " +
          "WHERE a < b AND a < c").df
    }),

    // per-vertex triangle participation counts — the local clustering /
    // community signal; canonical cycle enumeration then explode over the
    // three members.
    "q80_triangles_per_vertex" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.trianglesPerVertex().orderBy("id")
    }),

    // local clustering coefficient on the undirected closure: undirected
    // triangles through each vertex over its possible neighbor pairs —
    // exact-integer ratio, one round, vertices of degree < 2 report 0.
    "q145_clustering_coeff" -> ((s, d) => {
      PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
        .clusteringCoefficient().orderBy("id")
    }),

    // deterministic synchronous label propagation (4 fixed rounds, most-
    // frequent neighbor label, min tie-break) over the medium graph; the
    // DuckDB oracle unrolls the identical rounds.
    "q95_label_prop" -> ((s, d) => {
      PropertyGraph.fromEdges(mediumEdges(Tables(s, d)))
        .labelPropagation(rounds = 4)
        .orderBy("id")
    }),

    // 20-core of the medium graph by iterative peeling — the unique
    // fixpoint; the oracle unrolls 15 idempotent rounds (peeling is a
    // no-op once converged, so generous unrolling agrees exactly).
    "q96_kcore" -> ((s, d) => {
      PropertyGraph.fromEdges(mediumEdges(Tables(s, d)))
        .kCore(k = 20)
        .orderBy("id")
    }),

    // the reference's recursive-CTE SQL surface: WITH RECURSIVE
    // (SQLParser.scala:366-374, multiwayOperators.scala:306-326) — full
    // transitive closure over the dense edge set, reached purely via SQL
    // text through SqlRewriter's semi-naive working-table iteration. No
    // round cap on either side: both graft and the DuckDB oracle run to
    // the set fixpoint, so the gate cannot diverge on closure depth.
    "q86_recursive_sql" -> ((s, d) => {
      val es = graft.api.EngineSession(s)
      denseEdges(Tables(s, d)).createOrReplaceTempView("rec_sql_edges")
      es.sql(
        """WITH RECURSIVE tc AS (
          |  SELECT src, dst FROM rec_sql_edges
          |  UNION
          |  SELECT tc.src, e.dst FROM tc JOIN rec_sql_edges e ON tc.dst = e.src
          |) SELECT src, dst FROM tc ORDER BY src, dst""".stripMargin).df
    }),

    // toGraph/node()/edge()/subgraph() through the FACADE (the §2 rows that
    // were spec-verified only): the edge list lifts to a property graph
    // whose vertex set derives from endpoints (EngineDataFrame.toGraph →
    // PropertyGraph.fromEdges), subgraph keeps vertices with id % 3 <> 0
    // and edges with src < dst AND both endpoints surviving (the
    // reference's vFilter+eFilter semantics, SeccoGraphFrame.scala:57-67 —
    // a `???` stub there for node/edge), and the result is the surviving
    // out-degree profile with the vertex count pinned alongside. Every
    // piece replays relationally in DuckDB.
    "q220_graph_subgraph" -> ((s, d) => {
      val es = new graft.api.EngineSession(s)
      val g = es.createDatasetFromSparkSQL(denseEdges(Tables(s, d))).toGraph()
      val sg = g.subgraph(Some("id % 3 <> 0"), Some("src < dst"))
      val nV = sg.node().count() // bounded: ≤211 derived vertices
      sg.edge().groupBy("src").agg(count(lit(1)).as("out_deg"))
        .withColumnRenamed("src", "node_id")
        .withColumn("n_vertices", lit(nV))
        .orderBy("node_id")
    }),

    // one-round message passing: in-degree via msg=1/sum/coalesce — the
    // messagePassing surface of SeccoGraphFrame.scala:104-146.
    "q45_msgpass_indegree" -> ((s, d) => {
      val g = PropertyGraph.fromEdges(denseEdges(Tables(s, d)))
      g.messagePassing(
          message = "1",
          mergeFunction = "sum(msg)",
          updateFunction = "CAST(coalesce(newState, 0) AS BIGINT)",
          initialMessage = Some("0"),
          round = 1)
        .withColumnRenamed("state", "in_degree")
        .orderBy("id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q220_graph_subgraph" ->
      s"""WITH edges AS ($denseEdgesSql),
         |v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |vf AS (SELECT id FROM v WHERE id % 3 <> 0),
         |ef AS (SELECT e.src, e.dst FROM edges e
         |  JOIN vf a ON e.src = a.id JOIN vf b ON e.dst = b.id
         |  WHERE e.src < e.dst)
         |SELECT src AS node_id, CAST(count(*) AS BIGINT) AS out_deg,
         |  (SELECT CAST(count(*) AS BIGINT) FROM vf) AS n_vertices
         |FROM ef GROUP BY src ORDER BY node_id""".stripMargin,
    "q40_triangle" ->
      s"""WITH edges AS ($denseEdgesSql)
         |SELECT count(*) AS n_triangles
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst""".stripMargin,
    "q38_match_sql" ->
      s"""WITH edges AS ($denseEdgesSql)
         |SELECT count(*) AS n_triangles
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst""".stripMargin,
    "q41_pattern_2hop" ->
      s"""WITH edges AS ($denseEdgesSql)
         |SELECT count(*) AS n_paths
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         |WHERE e1.src <> e2.dst""".stripMargin,
    "q42_pagerank" ->
      s"""WITH edges AS ($denseEdgesSql),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT id, 1.0 AS rank FROM nodes),
         |r1 AS (SELECT n.id, 0.15 + 0.85 * coalesce(sum(r0.rank / deg.deg), 0) AS rank
         |       FROM nodes n LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r0 ON r0.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id),
         |r2 AS (SELECT n.id, 0.15 + 0.85 * coalesce(sum(r1.rank / deg.deg), 0) AS rank
         |       FROM nodes n LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r1 ON r1.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id),
         |r3 AS (SELECT n.id, 0.15 + 0.85 * coalesce(sum(r2.rank / deg.deg), 0) AS rank
         |       FROM nodes n LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r2 ON r2.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id)
         |SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id""".stripMargin,
    "q166_ppr" ->
      // q42's unrolled rounds with the teleport vector concentrated on the
      // seed set {0, 1}: walk starts there, restart mass re-enters there
      s"""WITH edges AS ($denseEdgesSql),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |tele AS (SELECT id, CASE WHEN id IN (0, 1) THEN 0.5 ELSE 0.0 END AS t
         |         FROM nodes),
         |r0 AS (SELECT id, t AS rank FROM tele),
         |r1 AS (SELECT n.id, 0.15 * t.t + 0.85 * coalesce(sum(r0.rank / deg.deg), 0) AS rank
         |       FROM tele t JOIN nodes n ON n.id = t.id
         |        LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r0 ON r0.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id, t.t),
         |r2 AS (SELECT n.id, 0.15 * t.t + 0.85 * coalesce(sum(r1.rank / deg.deg), 0) AS rank
         |       FROM tele t JOIN nodes n ON n.id = t.id
         |        LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r1 ON r1.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id, t.t),
         |r3 AS (SELECT n.id, 0.15 * t.t + 0.85 * coalesce(sum(r2.rank / deg.deg), 0) AS rank
         |       FROM tele t JOIN nodes n ON n.id = t.id
         |        LEFT JOIN edges e ON e.dst = n.id
         |        LEFT JOIN r2 ON r2.id = e.src LEFT JOIN deg ON deg.id = e.src
         |       GROUP BY n.id, t.t)
         |SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id""".stripMargin,
    "q43_wcc" ->
      s"""WITH RECURSIVE edges AS ($sparseEdgesSql),
         |und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
         |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id)
         |SELECT id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q44_sssp" ->
      s"""WITH RECURSIVE edges AS ($denseEdgesSql),
         |paths(id, d) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION
         |  SELECT e.dst, p.d + 1 FROM paths p JOIN edges e ON e.src = p.id WHERE p.d < 30)
         |SELECT id, CAST(min(d) AS BIGINT) AS dist
         |FROM paths GROUP BY id ORDER BY id""".stripMargin,
    "q48_wcoj_4cycle" ->
      s"""WITH edges AS ($mediumEdgesSql)
         |SELECT count(*) AS n_cycles
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src AND e4.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst AND e1.src < e3.dst""".stripMargin,
    "q47_wcoj_triangle" ->
      s"""WITH edges AS ($denseEdgesSql)
         |SELECT count(*) AS n_triangles
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst""".stripMargin,
    "q186_wcoj_hypercube" ->
      // count identical to q47; the 'hypercube' literal pins the route the
      // engine must have taken with the single-cell collapse disabled
      s"""WITH edges AS ($denseEdgesSql)
         |SELECT count(*) AS n_triangles, 'hypercube' AS route
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst""".stripMargin,
    "q120_wcoj_string_triangle" ->
      s"""WITH edges0 AS ($denseEdgesSql),
         |e AS (SELECT 'ent-' || CAST(src AS VARCHAR) AS u,
         |             'ent-' || CAST(dst AS VARCHAR) AS v FROM edges0)
         |SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |FROM e e1 JOIN e e2 ON e1.v = e2.u
         | JOIN e e3 ON e2.v = e3.u AND e3.v = e1.u
         |WHERE e1.u < e1.v AND e1.u < e2.v
         |ORDER BY a, b, c""".stripMargin,
    // S3–S8 oracles: a = e1.src, b = e1.dst, c = e2.dst, d = e3.dst,
    // (5-vertex) e = e4.dst; one self-join per pattern edge.
    "q224_s3_diamond" ->
      s"""WITH edges AS ($mediumEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src AND e4.dst = e1.src
         | JOIN edges e5 ON e5.src = e1.dst AND e5.dst = e3.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q225_s4_clique" ->
      s"""WITH edges AS ($mediumEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt, 'leapfrog' AS route
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src AND e4.dst = e1.src
         | JOIN edges e5 ON e5.src = e1.dst AND e5.dst = e3.dst
         | JOIN edges e6 ON e6.src = e1.src AND e6.dst = e2.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q226_s5_house" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q227_s6_house_x" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt, 'leapfrog' AS route
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst
         | JOIN edges e7 ON e7.src = e2.dst AND e7.dst = e4.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q228_s7_dense5" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt, 'leapfrog' AS route
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.src AND e6.dst = e2.dst
         | JOIN edges e7 ON e7.src = e1.dst AND e7.dst = e3.dst
         | JOIN edges e8 ON e8.src = e2.dst AND e8.dst = e4.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q229_s8_dense5" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e3.dst
         | JOIN edges e7 ON e7.src = e1.dst AND e7.dst = e4.dst
         | JOIN edges e8 ON e8.src = e2.dst AND e8.dst = e4.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    // core+tail: a = e1.src, b = e1.dst, c = e2.dst (triangle closed by
    // e3), then the tail d = e4.dst, e = e5.dst, f = e6.dst. Edges are
    // DISTINCT, so the plain self-join emits each binding once — the wcoj
    // route's set semantics.
    "q240_coretail_hybrid" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, count(*) AS cnt, 'hybrid' AS route
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         | JOIN edges e4 ON e4.src = e2.dst
         | JOIN edges e5 ON e5.src = e4.dst
         | JOIN edges e6 ON e6.src = e5.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q232_c1_proj_count" ->
      s"""WITH edges AS ($seededCappedEdgesSql),
         |bd AS (SELECT DISTINCT e1.dst AS b, e3.dst AS d
         |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         |   JOIN edges e3 ON e2.dst = e3.src
         |   JOIN edges e4 ON e3.dst = e4.src
         |   JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         |   JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst)
         |SELECT b, CAST(count(*) AS BIGINT) AS cnt
         |FROM bd GROUP BY b ORDER BY b""".stripMargin,
    "q233_c2_proj_count" ->
      s"""WITH edges AS ($seededCappedEdgesSql),
         |bc AS (SELECT DISTINCT e1.dst AS b, e2.dst AS c
         |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         |   JOIN edges e3 ON e2.dst = e3.src
         |   JOIN edges e4 ON e3.dst = e4.src
         |   JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         |   JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst
         |   JOIN edges e7 ON e7.src = e2.dst AND e7.dst = e4.dst)
         |SELECT b, CAST(count(*) AS BIGINT) AS cnt
         |FROM bc GROUP BY b ORDER BY b""".stripMargin,
    "q234_c3_weighted" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, CAST(sum(e9.dst) AS BIGINT) AS sum_w
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst
         | JOIN edges e9 ON e9.src = e3.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q235_c4_weighted" ->
      s"""WITH edges AS ($seededCappedEdgesSql)
         |SELECT e1.src AS a, CAST(sum(e9.dst) AS BIGINT) AS sum_w
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src
         | JOIN edges e5 ON e5.src = e1.src AND e5.dst = e4.dst
         | JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e4.dst
         | JOIN edges e7 ON e7.src = e2.dst AND e7.dst = e4.dst
         | JOIN edges e9 ON e9.src = e3.dst
         |GROUP BY e1.src ORDER BY a""".stripMargin,
    "q46_ghd_4cycle" ->
      s"""WITH edges AS ($mediumEdgesSql)
         |SELECT count(*) AS n_cycles
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         | JOIN edges e3 ON e2.dst = e3.src
         | JOIN edges e4 ON e3.dst = e4.src AND e4.dst = e1.src
         |WHERE e1.src < e1.dst AND e1.src < e2.dst AND e1.src < e3.dst""".stripMargin,
    "q145_clustering_coeff" ->
      s"""WITH edges AS ($denseEdgesSql),
         |und AS (SELECT DISTINCT a, b FROM (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION ALL SELECT dst, src FROM edges) WHERE a <> b),
         |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY a),
         |canon AS (SELECT a, b FROM und WHERE a < b),
         |tri0 AS (SELECT e1.a AS a, e1.b AS b, e2.c AS c FROM canon e1
         |  JOIN (SELECT a AS b, b AS c FROM canon) e2 USING (b)
         |  JOIN (SELECT a, b AS c FROM canon) e3 ON e3.a = e1.a AND e3.c = e2.c),
         |m AS (SELECT a AS id FROM tri0
         |  UNION ALL SELECT b FROM tri0 UNION ALL SELECT c FROM tri0),
         |t AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM m GROUP BY id)
         |SELECT d.id, d.degree,
         |  CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN round(2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1)), 6)
         |    ELSE 0.0 END AS cc
         |FROM deg d LEFT JOIN t ON t.id = d.id ORDER BY d.id""".stripMargin,
    "q80_triangles_per_vertex" ->
      s"""WITH edges AS ($denseEdgesSql),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         |   JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |  WHERE e1.src < e1.dst AND e1.src < e2.dst),
         |m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM m GROUP BY id ORDER BY id""".stripMargin,
    "q86_recursive_sql" ->
      s"""WITH RECURSIVE edges AS ($denseEdgesSql),
         |tc(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT tc.src, e.dst FROM tc JOIN edges e ON tc.dst = e.src)
         |SELECT src, dst FROM tc ORDER BY src, dst""".stripMargin,
    "q45_msgpass_indegree" ->
      s"""WITH edges AS ($denseEdgesSql),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |indeg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst)
         |SELECT n.id, CAST(coalesce(indeg.c, 0) AS BIGINT) AS in_degree
         |FROM nodes n LEFT JOIN indeg ON n.id = indeg.id ORDER BY n.id""".stripMargin,
    "q96_kcore" -> {
      // MATERIALIZED is load-bearing: each round references the previous
      // one twice, and DuckDB's default CTE inlining would blow up 2^15.
      def round(n: Int): String =
        s"""k$n AS MATERIALIZED (SELECT a AS id FROM (
           |  SELECT u.a, count(*) AS c FROM und u
           |  JOIN k${n - 1} x ON u.a = x.id JOIN k${n - 1} y ON u.b = y.id GROUP BY u.a)
           |  WHERE c >= 20)""".stripMargin
      s"""WITH edges AS ($mediumEdgesSql),
         |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
         |k0 AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |${(1 to 15).map(round).mkString(",\n")}
         |SELECT id FROM k15 ORDER BY id""".stripMargin
    },
    "q95_label_prop" -> {
      // unrolled synchronous LPA rounds in lockstep with
      // PropertyGraph.labelPropagation: undirected distinct edges, most
      // frequent neighbor label, (count desc, label asc) tie-break,
      // isolated vertices keep their label.
      def round(n: Int): String =
        s"""cnt$n AS (SELECT u.b AS id, l.lbl, count(*) AS c
           |  FROM und u JOIN l${n - 1} l ON u.a = l.id GROUP BY u.b, l.lbl),
           |win$n AS (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM cnt$n)
           |  WHERE rn = 1),
           |l$n AS (SELECT p.id, coalesce(w.lbl, p.lbl) AS lbl
           |  FROM l${n - 1} p LEFT JOIN win$n w ON p.id = w.id)""".stripMargin
      s"""WITH edges AS ($mediumEdgesSql),
         |und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
         |l0 AS (SELECT id, CAST(id AS BIGINT) AS lbl
         |  FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges)),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT id, lbl AS community FROM l4 ORDER BY id""".stripMargin
    }
  )
}
