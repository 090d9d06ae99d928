package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session defaults, applied by the one session builder
  * (graft.api.EngineSession.local) that every entry point uses — the bench
  * (graft.Bench), the correctness dump (graft.Verify) and the library
  * facade. VERDICT r18 #2: the r18 round proved two
  * session confs on the bench session (shuffled-hash join preference,
  * codegen-cache sizing) but left them in Bench.main — so the MEASURED
  * engine was not the SHIPPED engine: a consumer building a session through
  * EngineSession got sort-merge defaults and none of the 7–19% join wins.
  * This object is the one home for scale-general engine settings; entry
  * points keep only placement-specific confs (core counts, UI, tmpfs
  * checkpoint roots for measurement).
  *
  * Every entry here must be SCALE-GENERAL — justified at a 100 TB
  * deployment, not a local-core-count tune:
  *
  *   - `preferSortMergeJoin=false` (guide §3.1/§9): lets the planner take a
  *     shuffled-hash join where its size conditions hold (build side fits
  *     per partition) instead of always sorting both sides. The planner's
  *     own conditions make it scale-safe; r18 interleaved A/B over 9
  *     join-heavy gates measured 7/9 faster, subset total 0.93×.
  *   - `codegen.cache.maxEntries=5000` (static conf): the generated-class
  *     cache defaults to 100 entries, far below a many-query service's (or
  *     this suite's) working set — evictions re-pay janino compilation per
  *     query (measured on q43_wcc: 4.9 s vs 2.2 s, the whole gap janino).
  *   - `adaptive.enabled=true` (default since 3.2, pinned): AQE coalescing
  *     is the scale-adaptive partitioning story at both ends — it coalesces
  *     tiny local shuffles and splits skewed partitions at scale (r18 AQE-off
  *     probe: 1.8–3.3× WORSE on the graph/IVF gates).
  *   - `session.timeZone=UTC` and `legacy.parquet.nanosAsLong=true`:
  *     correctness-bearing (oracle comparisons are UTC; one testdata
  *     generation writes TIMESTAMP(NANOS) parquet that Spark cannot read
  *     natively).
  *   - [[localFs]], the `file:` filesystem ([[graft.LocalFs]]): Hadoop's
  *     local filesystem starts a shell process for every permission it
  *     sets (`chmod`), every FileContext rename (`readlink` on source and
  *     destination) and every permission it reads (`ls -ld`, once per file
  *     `listFiles` returns), because Spark's stock jars carry no native
  *     Hadoop library. A JFR `jdk.ProcessStart` census counted about 780
  *     per q212 run (600 `readlink`, 180 `chmod`, all from the stream's
  *     checkpoint, offset-log and state-store commits), 36-45 `ls -ld`
  *     per benchmark pass (the [[Tables.read]] listing), and 14,550
  *     (4,746 `chmod`, 8,472 `readlink`, 1,332 `ls`) in one Bench run of
  *     the 15 stream and write gates at sf0.01. graft's filesystem does
  *     these through java.nio system calls, and the same census reads no
  *     `chmod`, `readlink` or `ls`. It is scale-general because it
  *     replaces `file:` only: hdfs, s3a and every other scheme keep their
  *     own filesystem.
  *
  * These are session-wide. A setting that one query needs and the other
  * queries on its session must not see travels with that query instead,
  * so two queries can run at once on one session:
  *   - graft's small-input cap: [[Small.withCap]], a SparkContext local
  *     property of the calling thread (q186, q200);
  *   - a Spark join choice: a join hint (q230's `merge`);
  *   - a plan statistic read under other settings: a cloned `SQLConf`
  *     under `SQLConf.withExistingConf` (q239's CBO estimate);
  *   - a setting the plan must be built and run with: the plan rebound
  *     onto a clone of its session (`GraftSqlBridge.onClone`), as
  *     `EventStreams.drain` does for a stream's state partitions and
  *     `DocStreams.upsertBatch` for its AQE-off merge.
  */
object SessionDefaults {
  /** The `file:` filesystem for both Hadoop APIs: `fs.file.impl` is the
    * FileSystem API, `fs.AbstractFileSystem.file.impl` the FileContext API.
    * Hadoop's FileSystem cache ignores the conf, so these take effect only
    * when no `file:` filesystem was created before the SparkContext.
    */
  val localFs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystemApi].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.FileContextApi].getName)

  /** Static confs — only effective when set BEFORE the first
    * SparkSession of the JVM is created (builder time).
    */
  val static: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "5000") ++ localFs

  /** Runtime SQL confs — applied builder-time by [[apply]]; an embedding
    * application with an existing session can set them via `spark.conf`.
    */
  val runtime: Seq[(String, String)] = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def all: Seq[(String, String)] = static ++ runtime

  /** Apply every engine default to a session builder. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    all.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
