package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators: Z-order (Morton-curve) clustering for
  * multi-dimensional data skipping.
  *
  * Parquet readers prune row groups and files with min/max column
  * statistics; a linear sort makes those statistics selective for ONE
  * column only. Z-ordering interleaves the bits of several columns'
  * normalized ranks so that rows close in the multi-dimensional space land
  * in the same files — a range predicate on ANY of the z-columns then
  * skips most files (the layout move behind Delta/Iceberg OPTIMIZE ZORDER).
  *
  * Everything is expressions + one range shuffle: a single min/max
  * aggregate (tiny collect — 2 doubles per column) fixes the
  * normalization, the interleave is a static shift/or expression tree
  * inside whole-stage codegen, and the write is an ordinary
  * `repartitionByRange(z)` + in-partition sort, so it scales exactly like
  * any range-partitioned write.
  */
object Layout {

  /** Morton interleave of pre-normalized non-negative integer columns
    * (each already < 2^bits): bit b of column c lands at position
    * b·n + c. Pure arithmetic — codegen'd, no UDF.
    */
  def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"need 1..${63 / math.max(bits, 1)} columns at $bits bits, got ${cols.size}")
    val n = cols.size
    val terms = for {
      b <- 0 until bits
      (c, ci) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + ci)
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Z-value column for `df`: each column min/max-normalized to a
    * `bits`-wide rank (one tiny aggregate pass fixes the bounds), then
    * Morton-interleaved. Null ranks as 0 (sorts first, like a null-first
    * linear sort).
    */
  def zValue(df: DataFrame, zCols: Seq[String], bits: Int = 16): Column = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val maxRank = (1L << bits) - 1
    val ranks = zCols.zipWithIndex.map { case (c, i) =>
      // an empty input or an all-null column aggregates to null bounds —
      // rank everything 0 (the documented null behavior) instead of NPE-ing
      // the write job
      val (mn, mx) =
        if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) (0.0, 0.0)
        else (row.getDouble(2 * i), row.getDouble(2 * i + 1))
      val span = if (mx > mn) mx - mn else 1.0
      coalesce(
        floor((col(c).cast("double") - mn) / span * maxRank).cast("long"),
        lit(0L))
    }
    interleaveBits(ranks, bits)
  }

  /** Write `df` as parquet clustered along the Z-curve of `zCols`:
    * range-partition on the z-value (`partitions` output files per write
    * task layout), sort within partitions, drop the helper column.
    */
  def zOrderWrite(df: DataFrame, path: String, zCols: Seq[String],
      partitions: Int, bits: Int = 16): Unit = {
    df.withColumn("__z", zValue(df, zCols, bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** The trainer-facing sink: pack `df` into fixed-token shards
    * ([[Packing.packShards]] semantics) and write one directory per shard
    * (`shard=N/`, Hive-partitioned) in the chosen format, each shard's rows
    * in ascending id order — so a data loader streams shard files of
    * ~`budget` tokens with a deterministic, resumable order.
    *
    * Format "json" writes JSON-lines (the interchange format most training
    * stacks ingest); "parquet" keeps columnar. One extra exchange beyond
    * the packing prefix sum: the partitioned write clusters rows by shard
    * so each shard directory is written by the tasks owning it, not
    * appended from every task (thousands of tiny files otherwise).
    *
    * Returns the packed frame (doc_id, n_tokens, shard) for auditing.
    */
  def writeTrainingShards(df: DataFrame, idCol: String,
      tokenExpr: Column, budget: Long, path: String,
      format: String = "json"): DataFrame = {
    require(format == "json" || format == "parquet",
      s"format must be json or parquet, got $format")
    val packed = Packing.packShards(df, idCol, tokenExpr, budget)
    // natural upstream frames (tokenQuota, lengthBucketBatches output)
    // already carry n_tokens — drop caller-side collisions so the join-back
    // never produces duplicate columns / ambiguous references at write
    val clean = Seq("n_tokens", "shard").foldLeft(df)(_ drop _)
    val out = clean.join(packed.select(col("doc_id").as(idCol), col("n_tokens"),
        col("shard")), Seq(idCol))
    out.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").format(format)
      .partitionBy("shard").save(path)
    packed
  }

  /** Hive-style partitioned parquet layout (`col=value/` directories) — the
    * bread-and-butter 100 TB organization: a corpus partitioned by
    * ingestion date / source / language lets every downstream query that
    * filters on those columns skip whole directories at PLANNING time
    * (`PartitionFilters` in the scan — no file is opened, no footer read),
    * where Z-ordering ([[zOrderWrite]]) only narrows row groups WITHIN
    * files after listing them.
    *
    * Rows are clustered by the partition columns before the write so each
    * directory is produced by the tasks owning it — otherwise every task
    * appends a sliver to every partition and a 1000-task write creates
    * |tasks|×|partitions| tiny files. LayoutSpec asserts read-side pruning.
    */
  /** Rendezvous (highest-random-weight) shard assignment: shard =
    * argmax over s ∈ [0, nShards) of md5(key ":" s) — the consistent-
    * hashing rule for INCREMENTAL output layouts. Unlike `hash(key) mod n`,
    * growing n → n+1 reassigns only the keys whose new candidate wins
    * (≈ 1/(n+1) of them, spec-asserted); under mod-hashing nearly every
    * key moves, which at 100 TB means rewriting the whole store instead
    * of one new shard's worth.
    *
    * Pure per-row compute (nShards md5 evaluations inside one codegen'd
    * projection), zero shuffle, engine-replayable (md5 everywhere). Ties —
    * cryptographically negligible — break toward the HIGHER shard id, the
    * same (h DESC, s DESC) rule the oracle's row_number replays.
    */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val cand = transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        md5(concat(key.cast("string"), lit(":"), s.cast("string"))).as("h"),
        s.as("s")))
    array_max(cand).getField("s").cast("long")
  }

  /** [[rendezvousShard]] applied as a column: (input columns…, <outCol>). */
  def rendezvousShards(df: DataFrame, keyCol: String, nShards: Int,
      outCol: String = "shard"): DataFrame =
    df.withColumn(outCol, rendezvousShard(col(keyCol), nShards))

  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** Small-file compaction over a hive-partitioned parquet table — the
    * maintenance pass that pays down the compaction debt incremental
    * sinks accrue (every [[graft.streaming.DocStreams.upsertBatch]] merge
    * leaves one file per touched bucket per micro-batch; a day of
    * refreshes is thousands of small files per hot bucket, and scan cost
    * at 100 TB is dominated by file-open/footer overhead long before
    * bytes).
    *
    * Each LEAF partition directory (multi-level `a=1/b=2/` layouts are
    * recursed — parquet files live only at the leaves) is compacted
    * INDEPENDENTLY, from a bounded driver-side thread pool, and only when
    * over-fragmented: a dir whose file count already matches
    * ceil(bytes / targetBytes) is never listed into a job, read, or
    * rewritten — so the pass touches exactly the debt, not the table
    * (same contract as the upsert's dynamic partition overwrite). The
    * rewrite is read → localCheckpoint (pins rows off the files about to
    * die) → coalesce(n) → overwrite; `coalesce` merges partitions without
    * a shuffle, and the partition column never travels (it lives in the
    * directory name, re-derived by partition discovery on read).
    *
    * Single-writer per table, like the upsert sink (a transactional
    * format is the concurrent answer — documented, not faked). Returns
    * one (partition, filesBefore, filesAfter) row per rewritten dir so
    * callers can log exactly what the pass touched.
    */
  /** Peak number of concurrently-running per-directory rewrites during the
    * last [[compactPartitions]] call — observability for the pool actually
    * engaging (spec-asserted; a scheduler metric, not part of the report).
    */
  @volatile var lastCompactPeakConcurrency: Int = 0

  def compactPartitions(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long,
      parallelism: Int = 8): Seq[(String, Int, Int)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recurse to LEAF partition directories: in a multi-level hive layout
    // (a=1/b=2/...) the parquet files live only at the leaves, so a single-
    // level listing would see empty dirs and silently no-op the whole pass
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val kids = fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath)
      if (kids.isEmpty) Seq(p) else kids.toSeq.flatMap(leaves)
    }
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .toSeq.flatMap(s => leaves(s.getPath))
    // partition value = path relative to the table root (multi-level safe).
    // Qualify the root first: listStatus returns fully-qualified paths, so
    // a relative or differently-normalized input root would never prefix-
    // match and the report would silently emit absolute paths.
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    def rel(p: org.apache.hadoop.fs.Path): String =
      p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    def compactOne(p: org.apache.hadoop.fs.Path): Option[(String, Int, Int)] = {
      val files = fs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length <= nOut) None // already compact: leave untouched
      else {
        graft.Pin.checkpointed(graft.Tables.read(spark, p.toString)) {
          _.coalesce(nOut).write.mode("overwrite").parquet(p.toString)
        }
        Some((rel(p), files.length, nOut))
      }
    }
    // per-dir rewrites are tiny independent jobs; issued serially from the
    // driver, thousands of fragmented dirs (the operator's design point —
    // 65k buckets, thousands fragmented after a day of refreshes) would pay
    // hours of scheduler latency for minutes of I/O. Spark's scheduler is
    // thread-safe, so submit them from a BOUNDED pool: wall time tracks
    // pool width, not dir count, and the bound keeps the driver from
    // queueing thousands of jobs at once.
    lastCompactPeakConcurrency = 0
    if (parallelism == 1 || parts.size <= 1) parts.flatMap { p =>
      lastCompactPeakConcurrency = math.max(lastCompactPeakConcurrency, 1)
      compactOne(p)
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, parts.size))
      val running = new java.util.concurrent.atomic.AtomicInteger(0)
      try {
        val futures = parts.map { p =>
          pool.submit(new java.util.concurrent.Callable[Option[(String, Int, Int)]] {
            def call(): Option[(String, Int, Int)] = {
              val now = running.incrementAndGet()
              // racy max is fine: an observability gauge, not the report
              lastCompactPeakConcurrency =
                math.max(lastCompactPeakConcurrency, now)
              try compactOne(p) finally running.decrementAndGet()
            }
          })
        }
        try futures.flatMap(_.get()) // report in deterministic listing order
        catch { case e: java.util.concurrent.ExecutionException =>
          // surface the real Spark error, not the pool wrapper — and stop
          // the pass before the caller sees it: cancel what hasn't started
          // and wait out what has, so no background thread is still
          // mutating the table when the exception unwinds
          futures.foreach(_.cancel(false))
          pool.shutdown()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }
  }
}
