package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.api.EngineSession

class PkFkJoinReorderSpec extends SparkSpec {
  import spark.implicits._

  test("reorders dim-first join to start at largest relation, PK edges first") {
    PkFkJoinReorder.clear(spark)
    val es = EngineSession(spark) // installs the rule
    val fact = (1 to 5000).map(i => (i % 50L, i % 20L, i.toDouble)).toDF("d1_key", "d2_key", "v")
    val dim1 = (0 until 50).map(i => (i.toLong, s"a$i")).toDF("d1_key", "d1_name")
    val dim2 = (0 until 20).map(i => (i.toLong, s"b$i")).toDF("d2_key", "d2_name")
    es.registerPrimaryKey("dim1", Seq("d1_key"))
    es.registerPrimaryKey("dim2", Seq("d2_key"))

    // deliberately bad authored order: dim1 ⋈ dim2 would be a cross join if
    // honored literally left-deep; rule should anchor on the fact table
    val q = dim1.join(fact, Seq("d1_key")).join(dim2, Seq("d2_key"))
      .groupBy("d1_name").agg(sum("v").as("sv"))

    val optimized = q.queryExecution.optimizedPlan.toString
    assert(q.count() === 50)
    // the rule rewrote the join (Project wrapper restoring output order is
    // its signature); correctness: result equals the unoptimized semantics
    val expected = dim1.join(fact, Seq("d1_key")).join(dim2, Seq("d2_key"))
      .groupBy("d1_name").agg(sum("v").as("sv")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === expected)
    assert(optimized.nonEmpty)
  }

  test("primary keys are per session: q218 on a sibling session keeps them") {
    // q218 registers its keys and clears them in its finally. On a
    // newSession() sibling that clear must not reach this session's keys:
    // the q218/q223 interference, one session each.
    val es = EngineSession(spark)
    val fact = (1 to 5000).map(i => (i % 50L, i % 20L, i.toDouble)).toDF("d1_key", "d2_key", "v")
    val dim1 = (0 until 50).map(i => (i.toLong, s"a$i")).toDF("d1_key", "d1_name")
    val dim2 = (0 until 20).map(i => (i.toLong, s"b$i")).toDF("d2_key", "d2_name")
    es.registerPrimaryKey("dim1", Seq("d1_key"))
    es.registerPrimaryKey("dim2", Seq("d2_key"))
    // written dim-first; reordered, the plan starts at the fact table
    def startsAtFact: Boolean = dim1.join(fact, Seq("d1_key")).join(dim2, Seq("d2_key"))
      .queryExecution.optimizedPlan.collectLeaves().head.output.exists(_.name == "v")
    try {
      assert(startsAtFact)
      graft.queries.Relational.queries("q218_pkfk_reorder")(spark.newSession(), sf0001)
        .collect(): Unit
      assert(startsAtFact, "a sibling session's clear wiped this session's keys")
    } finally PkFkJoinReorder.clear(spark)
  }

  test("rule is a no-op without registered keys") {
    PkFkJoinReorder.clear(spark)
    val a = Seq((1L, "x")).toDF("k", "s")
    val b = Seq((1L, 2.0)).toDF("k", "v")
    val q = a.join(b, "k" :: Nil)
    assert(q.count() === 1)
    PkFkJoinReorder.clear(spark)
  }

  test("unrelated registered PK leaves a self-join chain untouched (no oscillation)") {
    // regression: with ANY key registered, the rule used to size-greedy
    // reorder every >=3-relation inner join — on a pattern-style self-join
    // of one equal-size edge table the all-ties tie-break fell back to Map
    // iteration order, the fixed-point batch oscillated, and the plan grew
    // a Project per level per iteration until optimization overflowed the
    // stack. No edge touches a PK here, so the rule must decline.
    PkFkJoinReorder.clear(spark)
    val es = EngineSession(spark) // installs the rule on the session
    es.registerPrimaryKey("unrelated_table", Seq("unrelated_key"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    // 4-hop cycle: four copies of the same relation, all sizes equal
    val q = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), Seq("b"))
      .join(edges.select($"src".as("c"), $"dst".as("d")), Seq("c"))
      .join(edges.select($"src".as("d"), $"dst".as("a2")), Seq("d"))
    // optimizing must terminate (no StackOverflow) and not bloat the plan
    val depth = q.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(depth < 40, s"optimized plan unexpectedly large: $depth nodes")
    assert(q.count() === 4)
    PkFkJoinReorder.clear(spark)
  }

  test("differential: the rule CHANGES the leaf order on a smallest-first chain") {
    // the q223 gate's claim, spec-asserted from both sides: stock Catalyst
    // (stats-free ReorderJoin) keeps the written smallest-first chain
    // region → nation → supplier → lineitem (every step already carries a
    // condition), while the PK-FK rule rebuilds largest-first along PK
    // edges. If the without-rule order ever equals the with-rule order the
    // gate degrades to q218's prove-it-ran form — this spec fails first.
    PkFkJoinReorder.clear(spark)
    val t = graft.Tables(spark, sf0001)
    def chain = t.region
      .join(t.nation, col("n_regionkey") === col("r_regionkey"))
      .join(t.supplier, col("s_nationkey") === col("n_nationkey"))
      .join(t.lineitem, col("l_suppkey") === col("s_suppkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n"))
    def leafOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().map { l =>
        val cols = l.output.map(_.name).toSet
        if (cols.contains("l_orderkey")) "lineitem"
        else if (cols.contains("s_suppkey")) "supplier"
        else if (cols.contains("n_nationkey")) "nation"
        else if (cols.contains("r_regionkey")) "region"
        else "?"
      }

    val hadRule = spark.experimental.extraOptimizations.contains(PkFkJoinReorder(spark))
    if (hadRule) spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == PkFkJoinReorder(spark))
    val without = leafOrder(chain)
    try {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PkFkJoinReorder(spark)
      PkFkJoinReorder.registerPrimaryKey(spark, "region", Seq("r_regionkey"))
      PkFkJoinReorder.registerPrimaryKey(spark, "nation", Seq("n_nationkey"))
      PkFkJoinReorder.registerPrimaryKey(spark, "supplier", Seq("s_suppkey"))
      val withRule = leafOrder(chain)
      assert(withRule === Seq("lineitem", "supplier", "nation", "region"))
      assert(without !== withRule,
        s"stock Catalyst now plans $without — the q223 differential is vacuous")
      // and the rewrite is a pure plan change: results agree
      val a = chain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      PkFkJoinReorder.clear(spark)
      val b = chain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a === b)
    } finally {
      PkFkJoinReorder.clear(spark)
      if (!hadRule) spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == PkFkJoinReorder(spark))
    }
  }

  test("rule preserves results on a 4-table star with conditions intact") {
    PkFkJoinReorder.clear(spark)
    PkFkJoinReorder.registerPrimaryKey(spark, "r1", Seq("k1"))
    PkFkJoinReorder.registerPrimaryKey(spark, "r2", Seq("k2"))
    val fact = (1 to 1000).map(i => (i % 10L, i % 7L, i % 3L)).toDF("k1", "k2", "k3")
    val d1 = (0 until 10).map(i => (i.toLong, i * 10)).toDF("k1", "a1")
    val d2 = (0 until 7).map(i => (i.toLong, i * 100)).toDF("k2", "a2")
    val d3 = (0 until 3).map(i => (i.toLong, i * 1000)).toDF("k3", "a3")
    val joined = d1.join(d2, expr("true"), "cross") // not reordered: cross has no condition
    val q = d3.join(fact, Seq("k3")).join(d1, Seq("k1")).join(d2, Seq("k2"))
    assert(q.count() === 1000)
    assert(q.agg(sum(col("a1") + col("a2") + col("a3"))).head().getLong(0) ===
      (1 to 1000).map(i => (i % 10) * 10 + (i % 7) * 100 + (i % 3) * 1000).sum)
    assert(joined.count() === 70)
    PkFkJoinReorder.clear(spark)
  }
}
