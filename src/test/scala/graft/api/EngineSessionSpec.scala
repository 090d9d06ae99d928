package graft.api

import graft.SparkSpec

/** Session-catalog surface: named graphs (reference CatalogGraphTable,
  * catalog/interface.scala:228-341) and CBO statistics configuration.
  */
class EngineSessionSpec extends SparkSpec {
  import spark.implicits._

  lazy val session = EngineSession(spark)

  test("named-graph registry: createGraph / graph / dropGraph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val g = graft.graph.PropertyGraph.fromEdges(edges)
    session.createGraph("tri", g)
    assert(session.graphExists("tri"))
    assert(session.graph("tri").triangleCount() === 1L)
    session.dropGraph("tri")
    assert(!session.graphExists("tri"))
    intercept[NoSuchElementException] { session.graph("tri") }
  }

  test("createGraph from vertex/edge frames registers and returns the graph") {
    val v = Seq(1L, 2L).toDF("id")
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val g = session.createGraph("tiny", v, e)
    assert(g.edge().count() === 1)
    assert(session.graph("tiny").node().count() === 2)
    session.dropGraph("tiny")
  }

  test("createGraphFromTables resolves node/edge tables by name") {
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("gn")
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").createOrReplaceTempView("ge")
    val g = session.createGraphFromTables("from_tables", "gn", "ge")
    assert(g.node().count() === 3 && g.edge().count() === 2)
    assert(session.graphExists("from_tables"))
    session.dropGraph("from_tables")
    spark.catalog.dropTempView("gn"); spark.catalog.dropTempView("ge")
  }

  test("enableCbo turns on histogram statistics and ANALYZE produces row stats") {
    session.enableCbo()
    assert(spark.conf.get("spark.sql.statistics.histogram.enabled") === "true")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "tag")
      .createOrReplaceTempView("stats_t")
    session.analyzeTable("stats_t", Seq("k", "tag")) // histogram path must not throw
    val plan = spark.table("stats_t").queryExecution.optimizedPlan
    assert(plan.stats.rowCount.contains(BigInt(3)))
    spark.catalog.uncacheTable("stats_t")
    spark.catalog.dropTempView("stats_t")
  }

  test("ANALYZE on a saved catalog table computes column stats WITHOUT caching it") {
    session.enableCbo()
    spark.sql("DROP TABLE IF EXISTS stats_saved")
    Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("k", "tag")
      .write.mode("overwrite").saveAsTable("stats_saved")
    try {
      session.analyzeTable("stats_saved", Seq("k", "tag"))
      // column stats landed (distinct counts visible to CBO)...
      val desc = spark.sql("DESCRIBE EXTENDED stats_saved k")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").exists(_.toLong >= 3L))
      // ...and storage memory stayed empty — a 100 TB table must never be
      // pulled into the cache as an ANALYZE side effect
      assert(!spark.catalog.isCached("stats_saved"))
    } finally spark.sql("DROP TABLE IF EXISTS stats_saved")
  }

  test("fullCardinality counts distinct tuples per attribute set in one pass") {
    val df = Seq(
      (1, "a", 10), (1, "a", 20), (2, "a", 10), (2, "b", 10), (2, "b", 10)
    ).toDF("x", "y", "z")
    val card = session.fullCardinality(df, Seq(Seq("x"), Seq("y"), Seq("x", "y"), Seq("x", "y", "z")))
    assert(card(Seq("x")) === 2L)
    assert(card(Seq("y")) === 2L)
    assert(card(Seq("x", "y")) === 3L)   // (1,a),(2,a),(2,b)
    assert(card(Seq("x", "y", "z")) === 4L)
  }

  test("q239 reads its CBO estimates under its own session, not the active one") {
    // plan stats read the ACTIVE session's conf: with a CBO-off session
    // active on this thread, estimates taken under it come out undefined
    val other = spark.newSession()
    other.conf.set("spark.sql.cbo.enabled", "false")
    org.apache.spark.sql.SparkSession.setActiveSession(other)
    val rows = try graft.queries.Relational.queries("q239_cbo_estimation")(spark, sf0001)
        .collect()
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Boolean]("est_defined")), rows.mkString("; "))
  }
}
