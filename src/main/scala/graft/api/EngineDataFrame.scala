package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.expr

import graft.Rounds

/** DataFrame façade with the reference's user-facing API
  * (SeccoDataFrame.scala:48-314). Deliberate semantics kept from the
  * reference, documented where they differ from SQL intuition:
  *
  *   - `select(pred)` is a σ FILTER, not projection (SeccoDataFrame.scala:125-141);
  *   - `project(cols)` is a DISTINCT-producing π (SeccoDataFrame.scala:143-165);
  *   - `union` is UNION DISTINCT; `unionAll` keeps duplicates (:246-262);
  *   - `difference` is EXCEPT with the *intended* semantics, not the
  *     reference's EXCEPT→INTERSECT lowering bug (LogicalPlanBuilder.scala:219).
  *
  * Every method delegates to Catalyst-visible DataFrame ops so pushdown,
  * join selection, AQE and whole-stage codegen all apply unchanged.
  */
final case class EngineDataFrame(df: DataFrame, session: EngineSession) {

  private def wrap(d: DataFrame): EngineDataFrame = copy(df = d)

  /* == relational operations (SeccoDataFrame.scala §2.1) == */

  /** σ filter from a string predicate — reference `select`. */
  def select(predicate: String): EngineDataFrame = filter(predicate)

  /** σ filter from a string predicate. */
  def filter(predicate: String): EngineDataFrame = wrap(df.filter(expr(predicate)))

  /** Distinct-producing projection (reference `project`, SeccoDataFrame.scala:143-146). */
  def project(columns: String): EngineDataFrame =
    wrap(df.selectExpr(columns.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq: _*).distinct())

  /** Projection without dedup — the plain SQL π. */
  def projectAll(columns: String): EngineDataFrame =
    wrap(df.selectExpr(columns.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq: _*))

  /** Binary theta/equi join (SeccoDataFrame.scala:171-187). All Spark join
    * type strings are accepted — strictly more than the reference executes
    * (only inner works there, SURVEY §2.2 caution).
    */
  def join(other: EngineDataFrame, condition: String, joinType: String = "inner"): EngineDataFrame =
    wrap(df.join(other.df, expr(condition), joinType))

  /** Natural join on all same-named columns (ResolveNaturalAndUsingJoin,
    * analysis/rules/resolve.scala:451).
    */
  def naturalJoin(other: EngineDataFrame, joinType: String = "inner"): EngineDataFrame = {
    val common = df.columns.filter(other.df.columns.contains(_)).toIndexedSeq
    require(common.nonEmpty, "natural join requires at least one common column")
    wrap(df.join(other.df, common, joinType))
  }

  /** Group-by aggregation from expression strings, e.g.
    * aggregate(Seq("sum(b) as sum_b"), Seq("a")) (SeccoDataFrame.scala:193-224).
    */
  def aggregate(aggExprs: Seq[String], groupByExprs: Seq[String]): EngineDataFrame = {
    val aggs = aggExprs.map(expr)
    val out =
      if (groupByExprs.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupByExprs.map(expr): _*).agg(aggs.head, aggs.tail: _*)
    wrap(out)
  }

  def subqueryAlias(name: String): EngineDataFrame = wrap(df.alias(name))

  /** n-ary UNION DISTINCT — reference default (SeccoDataFrame.scala:246-251). */
  def union(others: EngineDataFrame*): EngineDataFrame =
    wrap(others.foldLeft(df)(_ union _.df).distinct())

  /** n-ary UNION ALL (SeccoDataFrame.scala:257-262). */
  def unionAll(others: EngineDataFrame*): EngineDataFrame =
    wrap(others.foldLeft(df)(_ union _.df))

  /** EXCEPT (intended semantics; see class doc). */
  def difference(other: EngineDataFrame): EngineDataFrame = wrap(df.except(other.df))

  def intersection(other: EngineDataFrame): EngineDataFrame = wrap(df.intersect(other.df))

  def distinct(): EngineDataFrame = wrap(df.distinct())

  def limit(k: Int): EngineDataFrame = wrap(df.limit(k))

  /** Sort with reference-style "(expr, asc)" pairs as strings: "v desc",
    * "k asc", "k" (unaryOperators.scala:173-185 Sort). NOTE: a bare
    * `expr("v desc")` would silently parse as `v AS desc` (implicit alias) —
    * the direction suffix must be handled here.
    */
  def sort(sortExprs: String*): EngineDataFrame = {
    val cols = sortExprs.map { s =>
      val t = s.trim
      val lower = t.toLowerCase
      if (lower.endsWith(" desc")) expr(t.dropRight(5)).desc
      else if (lower.endsWith(" asc")) expr(t.dropRight(4)).asc
      else expr(t).asc
    }
    wrap(df.sort(cols: _*))
  }

  /** Keyed upsert-union — the reference's `UnionByUpdate`
    * (binaryOperators.scala:155-171; SQL `(q) UNION BY UPDATE cols (q)`,
    * SQLParser.scala:328-336): rows of `other` replace same-keyed rows of
    * this, unmatched rows of both survive. One shuffle (the anti join).
    */
  def unionByUpdate(other: EngineDataFrame, keyCols: Seq[String]): EngineDataFrame =
    wrap(other.df.unionByName(df.join(other.df.select(keyCols.map(org.apache.spark.sql.functions.col): _*), keyCols, "left_anti")))

  /** Fixed-round iteration — the reference's `Recursion(plan, round)` /
    * `Iterative` operators (graphOperators.scala:189, unaryOperators.scala:298),
    * run by [[graft.Rounds]]: lineage is truncated each round (SURVEY §7.3
    * iterative-state risk).
    *
    * Storage contract: each round's materialized blocks are RELEASED once
    * the following round materializes, so a `step` closure must not retain
    * an earlier round's frame for later actions — only the returned final
    * frame stays readable. (Same contract as iterateToFixpoint.)
    */
  def iterate(rounds: Int)(step: EngineDataFrame => EngineDataFrame): EngineDataFrame = {
    require(rounds >= 0)
    wrap(Rounds.run(df, rounds)((d, _) => step(wrap(d)).df))
  }

  /** Iterate to fixpoint with a round cap — `WITH RECURSIVE(n)` CTE
    * semantics (multiwayOperators.scala:306-326): stops when a round adds
    * no change (same row multiset) or after `maxRounds`.
    */
  def iterateToFixpoint(maxRounds: Int)(step: EngineDataFrame => EngineDataFrame): EngineDataFrame = {
    val same = Rounds.After { (prev, next) =>
      next.exceptAll(prev).limit(1).count() + prev.exceptAll(next).limit(1).count() == 0
    }
    wrap(Rounds.run(df, maxRounds, same, pinInit = true)((d, _) => step(wrap(d)).df))
  }

  /* == actions (SeccoDataFrame.scala:59-117) == */

  def collect(): Array[Row] = df.collect()
  def count(): Long = df.count()
  def rdd: org.apache.spark.rdd.RDD[Row] = df.rdd

  /** The `Partition` communication operator (unaryOperators.scala:235-253):
    * hash-repartition on the given columns — Catalyst's ShuffleExchange
    * replaces the reference's hypercube exchange for unary repartitioning.
    */
  def partitionBy(cols: String*): EngineDataFrame =
    wrap(df.repartition(cols.map(org.apache.spark.sql.functions.col): _*))

  def writeParquet(path: String): Unit = df.write.mode("overwrite").parquet(path)
  def writeCsv(path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def writeJson(path: String): Unit = df.write.mode("overwrite").json(path)
  def writeOrc(path: String): Unit = df.write.mode("overwrite").orc(path)
  def show(n: Int = 20): Unit = df.show(n)
  def explain(extended: Boolean = false): Unit = df.explain(extended)
  def cache(): EngineDataFrame = wrap(df.cache())
  def createOrReplaceTable(name: String): Unit = df.createOrReplaceTempView(name)

  /* == graph construction (SeccoDataFrame.scala:312-314) == */

  /** Treat this DataFrame as an edge list and lift to a property graph; the
    * vertex set is derived from edge endpoints.
    */
  def toGraph(srcCol: String = "src", dstCol: String = "dst"): graft.graph.PropertyGraph =
    graft.graph.PropertyGraph.fromEdges(df, srcCol, dstCol)

  def columnExpr(e: String): Column = expr(e)
}
