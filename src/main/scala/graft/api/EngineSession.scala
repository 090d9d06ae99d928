package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session façade with the capabilities of the reference's `SeccoSession`
  * (SeccoSession.scala:18-135), delegating to a [[SparkSession]].
  *
  * Extras the reference keeps in its private catalog:
  *   - a primary-key registry (catalog/interface.scala:102) consumed by the
  *     PK-FK join-reorder rule — Spark has no native PK concept, so the
  *     rule keeps it as metadata scoped to the SparkSession.
  */
final class EngineSession(val spark: SparkSession) {

  /** named property graphs (reference: CatalogGraphTable/CatalogNodeTable/
    * CatalogEdgeTable, catalog/interface.scala:228-341) — a session-scoped
    * registry so reference scripts using createGraph/graph(name) port 1:1.
    */
  private val graphs = TrieMap.empty[String, graft.graph.PropertyGraph]

  // install the PK-FK join-reorder rule (SURVEY §7.6); idempotent on a
  // shared session. Also installable at submit time via
  // spark.sql.extensions=graft.plans.GraftExtensions.
  graft.plans.PkFkJoinReorder.install(spark)

  /** SQL entry point (SeccoSession.scala:89-91) — full Spark SQL, a strict
    * superset of the reference's hand-rolled grammar (SURVEY §2.7), plus the
    * reference's two SQL extensions via [[SqlRewriter]]:
    * `(q) UNION BY UPDATE cols (q)` and `MATCH(graph, pattern)` in FROM.
    */
  def sql(text: String): EngineDataFrame = {
    val (rewritten, cleanup) = SqlRewriter.rewriteTracked(text, this)
    // spark.sql analyzes eagerly, so the recursive-CTE internal views are
    // resolved into the returned plan; dropping them (and releasing the
    // per-round checkpoints) afterwards is safe and keeps the CTE name
    // query-scoped instead of leaking into the session catalog.
    try EngineDataFrame(spark.sql(rewritten), this) finally cleanup()
  }

  /** Temp-view lookup (SeccoSession.scala:78-85). */
  def table(name: String): EngineDataFrame = EngineDataFrame(spark.table(name), this)

  /** Leaf construction from local rows (SeccoSession.scala:27-45). */
  def createDatasetFromSeq(rows: Seq[Row], schema: StructType): EngineDataFrame =
    EngineDataFrame(spark.createDataFrame(spark.sparkContext.parallelize(rows.toList), schema), this)

  /** Leaf construction from an existing DataFrame (SeccoDataFrame.scala:421-454). */
  def createDatasetFromSparkSQL(df: DataFrame): EngineDataFrame = EngineDataFrame(df, this)

  /** Leaf construction from an RDD (SeccoSession.createDatasetFromRDD,
    * SeccoSession.scala:46-59).
    */
  def createDatasetFromRDD(rdd: org.apache.spark.rdd.RDD[Row], schema: StructType): EngineDataFrame =
    EngineDataFrame(spark.createDataFrame(rdd, schema), this)

  /* == file sources/sinks — the reference has none (SURVEY §2.5: collect-only
   * output, programmatic ingestion + a text DataLoader); Spark natively
   * provides them, surfaced here for facade completeness. == */

  def readParquet(path: String): EngineDataFrame = EngineDataFrame(graft.Tables.read(spark, path), this)
  def readCsv(path: String, header: Boolean = true, inferSchema: Boolean = true): EngineDataFrame =
    EngineDataFrame(spark.read.option("header", header).option("inferSchema", inferSchema).csv(path), this)
  def readJson(path: String): EngineDataFrame = EngineDataFrame(spark.read.json(path), this)
  def readOrc(path: String): EngineDataFrame = EngineDataFrame(spark.read.orc(path), this)
  /** text-file loader with a delimiter — the reference's util DataLoader capability. */
  def readDelimited(path: String, delimiter: String): EngineDataFrame =
    EngineDataFrame(spark.read.option("header", "false").option("delimiter", delimiter).csv(path), this)

  /** Empty dataset with schema (SeccoSession.scala:60-68). */
  def createEmptyDataset(schema: StructType): EngineDataFrame =
    EngineDataFrame(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), this)

  /** Register a table's primary key for the PK-FK join optimizer. */
  def registerPrimaryKey(table: String, keys: Seq[String]): Unit =
    graft.plans.PkFkJoinReorder.registerPrimaryKey(spark, table, keys)

  def primaryKeyOf(table: String): Option[Seq[String]] =
    graft.plans.PkFkJoinReorder.primaryKeyOf(spark, table)

  def dropTable(name: String): Unit = spark.catalog.dropTempView(name)

  /* == named-graph catalog (reference catalog/interface.scala:228-341) == */

  /** Register a property graph under a name. */
  def createGraph(name: String, g: graft.graph.PropertyGraph): Unit =
    graphs.put(name, g)

  /** Build + register a graph from vertex/edge DataFrames. */
  def createGraph(name: String, vertices: DataFrame, edges: DataFrame): graft.graph.PropertyGraph = {
    val g = graft.graph.PropertyGraph(vertices, edges)
    graphs.put(name, g)
    g
  }

  /** Build + register a graph from catalog/temp-view TABLE NAMES — the
    * reference's CatalogNodeTable/CatalogEdgeTable surface
    * (catalog/interface.scala:228-285): node table (id, label?, props...),
    * edge table (src, dst, label?, props...).
    */
  def createGraphFromTables(name: String, nodeTable: String, edgeTable: String): graft.graph.PropertyGraph =
    createGraph(name, spark.table(nodeTable), spark.table(edgeTable))

  /** Lookup a registered graph by name. */
  def graph(name: String): graft.graph.PropertyGraph =
    graphs.getOrElse(name,
      throw new NoSuchElementException(s"graph not found: $name"))

  def graphExists(name: String): Boolean = graphs.contains(name)

  def dropGraph(name: String): Unit = graphs.remove(name)

  /** Statistics collection (reference Statistics/StatsPlanVisitor role,
    * SURVEY §4.2): ANALYZE feeds Catalyst CBO; enable joinReorder to let the
    * cost-based optimizer use them alongside the PK-FK rule.
    */
  def analyzeTable(name: String, columns: Seq[String] = Nil): Unit = {
    // TEMPORARY views only support ANALYZE when cached (Spark restriction) —
    // cache those alone. Catalog tables take ANALYZE natively, and
    // cacheTable on a 100 TB catalog table would materialize it into storage
    // memory the moment ANALYZE scans it.
    val isTempView =
      try spark.catalog.tableExists(name) &&
        spark.catalog.getTable(name).tableType == "TEMPORARY"
      catch { case _: Exception => false }
    if (isTempView && !spark.catalog.isCached(name)) {
      try spark.catalog.cacheTable(name) catch { case _: Exception => () }
    }
    if (columns.isEmpty) spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    else spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Exact distinct cardinality for several attribute SETS of a frame in
    * one statement — the reference's `Statistics.fullCardinality`
    * (optimization/statsEstimation/Statistics.scala:27-70), which feeds
    * cardinality-aware attribute ordering. Each set is counted as distinct
    * tuples (null-safe via struct equality); Spark plans the multi-distinct
    * aggregate with one Expand pass rather than one scan per set.
    *
    * Returns the counts keyed by the attribute set, in input order.
    */
  def fullCardinality(df: org.apache.spark.sql.DataFrame,
      attrSets: Seq[Seq[String]]): Map[Seq[String], Long] = {
    require(attrSets.nonEmpty, "fullCardinality: no attribute sets")
    import org.apache.spark.sql.functions.{countDistinct, struct, col}
    val aggs = attrSets.zipWithIndex.map { case (set, i) =>
      require(set.nonEmpty, "fullCardinality: empty attribute set")
      countDistinct(struct(set.map(col): _*)).as(s"c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    attrSets.zipWithIndex.map { case (set, i) => set -> row.getLong(i) }.toMap
  }

  /** Write a bucketed+sorted table: joins/aggregations on the bucket
    * columns between co-bucketed tables need NO shuffle — the pre-partitioned
    * layout Spark's `EnsureRequirements` recognizes. The 100 TB technique for
    * repeatedly-joined fact tables (bucket both sides on the join key with
    * the same bucket count).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit = {
    // unqualified simple names only: the name is used in SQL text and to
    // derive the managed location, so dots/slashes/quotes must be rejected
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"writeBucketed: table name must be a simple unqualified identifier, got '$table'")
    // a previous JVM may have left the managed location on disk without a
    // catalog entry; overwrite mode then fails with LOCATION_ALREADY_EXISTS.
    // Prefer the catalog's reported location; fall back to warehouse-dir +
    // name only for a local file: warehouse (never delete non-file URIs).
    val catalogLoc: Option[java.net.URI] =
      try {
        if (spark.catalog.tableExists(table))
          Some(new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $table")
            .filter("col_name = 'Location'").select("data_type").head().getString(0)))
        else None
      } catch { case _: Exception => None }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc: Option[java.io.File] = catalogLoc match {
      case Some(uri) if uri.getScheme == null || uri.getScheme == "file" =>
        Some(new java.io.File(uri.getPath))
      case Some(_) => None // non-local table location: let the writer manage it
      case None =>
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val whUri = new java.net.URI(wh)
        if (whUri.getScheme == null || whUri.getScheme == "file")
          Some(new java.io.File(if (whUri.getScheme == null) wh else whUri.getPath,
            table.toLowerCase))
        else None
    }
    loc.filter(_.exists()).foreach { root =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(root)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Z-order clustered parquet write (facade over
    * [[graft.operators.Layout.zOrderWrite]]): multi-dimensional min/max
    * file skipping for range predicates on any of `zCols`.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      partitions: Int, bits: Int = 16): Unit =
    graft.operators.Layout.zOrderWrite(df, path, zCols, partitions, bits)

  /** Hive-style partitioned parquet write (facade over
    * [[graft.operators.Layout.writePartitioned]]): directory-level
    * partition pruning for filters on `partCols` — the date/source/language
    * layout large corpora live in.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    graft.operators.Layout.writePartitioned(df, path, partCols)

  def enableCbo(): Unit = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // equi-height histograms (the reference's Histogram statistics surface,
    // optimization/statsEstimation/Statistics.scala): ANALYZE ... FOR COLUMNS
    // then builds per-column histograms consumed by join/filter estimation
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
  }

  /** Runtime join pruning: inject a Bloom filter built from the selective
    * (build) side of a shuffle join into the probe side's scan, so a 100 TB
    * fact table is filtered DURING its scan instead of shuffling rows that
    * a dimension filter will discard anyway. This is the dynamic companion
    * to static partition pruning — Catalyst's InjectRuntimeFilter does the
    * plumbing; the thresholds here open it up for mid-size probe relations
    * (Spark's default only fires on ≥ 10 GB scans).
    */
  def enableRuntimeFiltering(
      applicationSideThreshold: String = "10MB",
      creationSideThreshold: String = "10MB"): Unit = {
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      applicationSideThreshold)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      creationSideThreshold)
  }
}

object EngineSession {
  /** Local default mirroring SeccoSession.newDefaultSession. Shuffle
    * partitions sized to cores (not 200) and AQE on — at cluster scale these
    * come from spark-submit conf instead.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): EngineSession = {
    // engine confs from the shared defaults (graft.SessionDefaults) so the
    // facade ships the same engine the bench measures — VERDICT r18 #2
    // (previously the r18 shuffled-hash preference and codegen-cache sizing
    // lived only in Bench.main)
    val spark = graft.SessionDefaults(SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new EngineSession(spark)
  }

  def apply(spark: SparkSession): EngineSession = new EngineSession(spark)
}
