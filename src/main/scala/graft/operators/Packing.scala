package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training pipelines: assign each document to a
  * fixed-token-budget shard, in deterministic key order, so a downstream
  * trainer can stream shard files of ~`budget` tokens each.
  *
  * Semantics (engine-portable, verified against a DuckDB window oracle):
  * order docs by `idCol`, take the running token total, and place each doc in
  * `shard = floor((cum − n_tokens) / budget)` — the shard containing the
  * doc's first token.
  *
  * Scale design: the textbook formulation is a global-`ORDER BY` window
  * running sum, which Spark executes as a SINGLE task (every row through one
  * window partition) — a non-starter at 100 TB. [[packShards]] instead runs
  * the classic two-phase distributed prefix sum:
  *
  *   1. assign each row a deterministic range BUCKET — a pure function of
  *      its sort-key values against boundary literals sampled once (below);
  *      buckets are monotone in key order, so bucket order IS key order;
  *   2. per-bucket running sums via a window PARTITIONED by bucket
  *      (parallel across the 32/1000s of buckets);
  *   3. one tiny per-bucket-totals table (rows = #buckets) turned into
  *      exclusive offsets on the driver-sized side and broadcast back.
  *
  * Buckets are VALUE-derived, never `spark_partition_id()`: a physical
  * partition id depends on which exchange instance a row came through, so
  * any recomputation (block loss, failed reuse, a different environment's
  * range-sampler) could in principle re-key a row between the offsets
  * aggregate and the final join. With value-derived buckets every
  * intermediate is a pure function of the row's data — the recipe needs no
  * checkpoint pinning and produces identical output on any cluster layout,
  * partition count, or AQE decision.
  *
  * Only (id, n_tokens) flows through the prefix-sum shuffles — the text
  * column never moves. Wall-clock is O(N/P) per task instead of O(N) on one.
  */
object Packing {

  /** Deterministic range-bucket boundaries for `keyCols`: a uniform sample
    * (the `sampleN` rows with the smallest xxhash64 of the key — a fixed,
    * engine-deterministic choice, unlike `RangePartitioner`'s reservoir),
    * sorted, thinned to `p − 1` evenly spaced key tuples. Collected once to
    * the driver (bounded: ≤ max(32·p, 1024) slim key rows) and re-entered as
    * literals, so bucket assignment downstream is a pure per-row expression.
    * Boundary quality only affects bucket BALANCE, never correctness:
    * `bucket = |{b : b < key}|` is monotone in key order for any boundary
    * multiset.
    */
  private[graft] def rangeBucketBoundaries(rows: DataFrame,
      keyCols: Seq[String], p: Int): Seq[Seq[Any]] = {
    if (p <= 1) return Nil
    val sampleN = math.min(math.max(32 * p, 1024), 1 << 16)
    val sample = rows
      .select(keyCols.map(col): _*)
      .orderBy(xxhash64(keyCols.map(col): _*) +: keyCols.map(col): _*)
      .limit(sampleN)
      .collect()
      .map(r => keyCols.indices.map(r.get))
    if (sample.isEmpty) return Nil
    val ord: Ordering[Seq[Any]] = (a, b) =>
      a.iterator.zip(b.iterator).map { case (x, y) => cmpAny(x, y) }
        .find(_ != 0).getOrElse(0)
    val sorted = sample.sorted(ord)
    (1 until p).map(i => sorted((i.toLong * sorted.length / p).toInt))
      .distinct // equal boundaries would only make empty buckets
  }

  /** Driver-side comparator matching Spark's ascending-nulls-first column
    * order (strings by UTF-8 bytes, as Spark's UTF8String compares). Only
    * bucket balance depends on it, so near-agreement suffices.
    */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _)    => -1
    case (_, null)    => 1
    case (x: String, y: String) => java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)         => java.lang.Integer.compare(x, y)
    case (x: Short, y: Short)     => java.lang.Short.compare(x, y)
    case (x: Byte, y: Byte)       => java.lang.Byte.compare(x, y)
    case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
    case (x: Float, y: Float)     => java.lang.Float.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"unsupported range-bucket key type: ${a.getClass.getName}")
  }

  /** The bucket expression: `|{b ∈ boundaries : b < (keyCols…)}|`, i.e. a
    * chain of codegen'd lexicographic comparisons against literals —
    * ascending, nulls-first (a NULL key compares below every non-null
    * boundary; a NULL boundary component matches only NULL keys). O(p)
    * comparisons per row, whole-stage-codegen friendly, zero shuffles.
    */
  private[graft] def rangeBucketExpr(keyCols: Seq[String],
      boundaries: Seq[Seq[Any]]): org.apache.spark.sql.Column = {
    def keyGt(b: Seq[Any]): org.apache.spark.sql.Column =
      keyCols.zip(b).foldRight(lit(false)) { case ((c, bv), rest) =>
        val gt = if (bv == null) col(c).isNotNull else col(c) > lit(bv)
        val eq = if (bv == null) col(c).isNull else col(c) <=> lit(bv)
        gt || (eq && rest)
      }
    boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(keyGt(b), 1).otherwise(0)
    }
  }

  /** (doc_id, n_tokens, shard) for every row of `df`, where `tokenExpr` is
    * evaluated per row (e.g. `TextFunctions.tokenCount(col("text"))`).
    *
    * @param partitions prefix-sum parallelism; defaults to
    *   spark.sql.shuffle.partitions. Correctness never depends on it.
    */
  def packShards(df: DataFrame, idCol: String,
      tokenExpr: org.apache.spark.sql.Column, budget: Long,
      partitions: Int = 0): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    // `local` feeds both the offsets aggregate and the final join; its
    // bucket key is a pure function of row values (see object doc), so the
    // branches agree by construction even if the exchange were recomputed —
    // no checkpoint pinning needed, no pinned blocks to leak.
    val local = prefixSummed(df, idCol, tokenExpr, partitions)

    // phase 3: exclusive prefix offsets over the tiny (≤ p rows) totals
    // table. The global-order window here is fine: it sees #buckets rows,
    // not N.
    val offsets = local.groupBy("bkt").agg(sum("n_tokens").as("part_total"))
      .withColumn("offset",
        coalesce(sum("part_total").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "offset")

    local.join(broadcast(offsets), "bkt")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("local_cum") + col("offset") - col("n_tokens"))
          .cast("double") / budget.toDouble).cast("long").as("shard"))
  }

  /** Phases 1–2 as a lazy plan: deterministic range buckets over id,
    * per-bucket running sums with a bucket-keyed window. Exposed so the
    * plan-shape spec can assert the scale properties (bucket-parallel
    * windows, no single-partition exchange).
    */
  private[graft] def prefixSummed(df: DataFrame, idCol: String,
      tokenExpr: org.apache.spark.sql.Column, partitions: Int): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val rows = df.select(col(idCol).as("doc_id"), tokenExpr.cast("long").as("n_tokens"))
    val bounds = rangeBucketBoundaries(rows, Seq("doc_id"), p)
    rows.withColumn("bkt", rangeBucketExpr(Seq("doc_id"), bounds))
      // per-bucket running sums: the window is keyed by bkt, so every
      // bucket's scan runs in parallel (no global-order single task)
      .withColumn("local_cum",
        sum("n_tokens").over(Window.partitionBy("bkt").orderBy("doc_id")))
  }

  /** Overlapping token-window chunking (RAG / long-document training prep):
    * split each document's token sequence into windows of `window` tokens
    * advancing by `stride` (< window ⇒ overlap), emitting
    * (doc_id, chunk_idx, tok_start, tok_len) with `tok_start` 1-based.
    *
    * Chunks start at 1, 1+stride, 1+2·stride, …, stopping after the first
    * window that reaches the end of the document (the HuggingFace
    * `return_overflowing_tokens` rule): `n_chunks = 1 + ⌈max(0, n−window) /
    * stride⌉`. The last chunk is truncated to the remaining tokens, so every
    * token belongs to ≥1 chunk, no chunk is fully contained in its
    * predecessor, and a doc shorter than `window` still yields one chunk.
    * Docs with zero tokens yield none.
    *
    * Scale: zero shuffles — `sequence` + `explode` inside whole-stage
    * codegen, each input row expanding to its own chunk rows in place. Row
    * growth is a factor of ~window/stride over the token count, independent
    * of corpus size, and the text column itself is never duplicated (chunks
    * are (start, len) spans; a consumer slices lazily).
    */
  def chunkWindows(df: DataFrame, idCol: String,
      tokenCountExpr: org.apache.spark.sql.Column, window: Int,
      stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // stride > window skips tokens — and the lastStart formula would emit a
    // degenerate (tok_start > n, tok_len < 1) final chunk; the HF overflow
    // rule this implements assumes overlapping-or-adjacent windows
    require(stride <= window,
      s"stride ($stride) must be <= window ($window): larger strides skip " +
        "tokens and violate the every-token-covered invariant")
    val lastStart = lit(1L) +
      ceil(greatest(col("n_tokens") - window.toLong, lit(0L)).cast("double")
        / stride.toDouble).cast("long") * stride.toLong
    df.select(col(idCol).as("doc_id"), tokenCountExpr.cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(sequence(lit(1L), lastStart, lit(stride.toLong)))
          .as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("tok_start"),
        least(lit(window.toLong), col("n_tokens") - col("tok_start") + 1L).as("tok_len"))
  }

  /** Length-bucketed batch assignment (padding-efficiency prep): bucket
    * documents by token-length band (`bucket = (n_tokens − 1) / bucketSize`),
    * then number each bucket's docs in id order and cut them into batches of
    * `batchSize` — so every training batch holds similar-length sequences
    * and pad-token waste is bounded by `bucketSize`, the standard
    * bucketed-batching move.
    *
    * Output: (doc_id, n_tokens, bucket, batch_idx); semantics ≡ row_number
    * OVER (PARTITION BY bucket ORDER BY doc_id), `batch_idx = (rank−1) /
    * batchSize` — which is what the DuckDB oracle computes.
    *
    * Scale: a per-bucket rank via a plain bucket-partitioned window
    * serializes EACH bucket into one task (a handful of length bands over a
    * 100 TB corpus = a handful of tasks). Instead this runs the same
    * two-phase distributed prefix shape as [[packShards]], generalized to
    * groups: range-partition by (bucket, id) — so a bucket spans many
    * ordered partitions — take per-(bucket, pid) local row numbers in
    * parallel, and add broadcast exclusive offsets computed on the tiny
    * (bucket, pid)-counts table. Only (id, n_tokens) ever moves.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String,
      tokenExpr: org.apache.spark.sql.Column, bucketSize: Int,
      batchSize: Int, partitions: Int = 0): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val rows = df
      .select(col(idCol).as("doc_id"), tokenExpr.cast("long").as("n_tokens"))
      .withColumn("bucket", floor((col("n_tokens") - 1).cast("double") / bucketSize).cast("long"))
    groupedRowNumbers(rows, Seq("bucket"), Seq("doc_id"), partitions)
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        floor((col("rank") - 1).cast("double") / batchSize)
          .cast("long").as("batch_idx"))
  }

  /** Whether a two-phase prefix pass takes its plain-window twin: asked
    * for one task (`p` <= 1), or the input is small
    * ([[graft.Small.byEstimate]]), where a single-task window is safe and
    * the distributed form's extra jobs (boundary sample, offsets
    * aggregate, broadcast reattach) are pure overhead. The twin is
    * bit-identical by the determinism contract (differential-spec-proven).
    * The twin taken is the [[graft.QueryTrace]] attribute `prefix.route`
    * ("window" | "distributed").
    */
  private def windowRoute(rows: DataFrame, p: Int): Boolean = {
    val window = p <= 1 || graft.Small.byEstimate(rows)
    graft.QueryTrace.record(rows.sparkSession, "prefix.route",
      if (window) "window" else "distributed")
    window
  }

  /** Distributed row_number: `rank` = row_number OVER (PARTITION BY
    * `grpCols` ORDER BY `ordCols`) computed with the grouped two-phase
    * prefix (deterministic range buckets over grp+ord, per-(grp, bucket)
    * windows in parallel, broadcast exclusive per-slice offsets) — a group
    * never serializes into one task. Every input column rides through.
    *
    * Shared machinery of [[lengthBucketBatches]], [[groupRunningTotals]]'
    * rank twin, and `Sampling.stratifiedSplit`. Buckets are value-derived
    * (see object doc), so the offsets aggregate and the final join agree by
    * construction — no checkpoint pinning. Deterministic for any
    * deterministic input; pin upstream yourself if it contains `rand()`.
    *
    * Ties across `ordCols` must be broken (pass a unique key last): a tie
    * straddling a bucket boundary would otherwise rank engine-dependently,
    * exactly as a plain window would.
    */
  private[operators] def groupedRowNumbers(rows: DataFrame,
      grpCols: Seq[String], ordCols: Seq[String], partitions: Int): DataFrame = {
    val spark = rows.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val keyCols = grpCols ++ ordCols
    require(!rows.columns.contains("__bkt"),
      "groupedRowNumbers reserves column name __bkt")
    // small input (or an explicit partitions <= 1): the plain window IS
    // the definition of the contract — same result, none of the
    // sample/offsets machinery (see [[windowRoute]])
    if (windowRoute(rows, p)) {
      return rows.withColumn("rank", row_number().over(
        Window.partitionBy(grpCols.map(col): _*).orderBy(ordCols.map(col): _*)))
    }
    val bounds = rangeBucketBoundaries(rows, keyCols, p)
    val local = rows
      .withColumn("__bkt", rangeBucketExpr(keyCols, bounds))
      .withColumn("__lrn", row_number().over(
        Window.partitionBy((grpCols :+ "__bkt").map(col): _*)
          .orderBy(ordCols.map(col): _*)))

    // tiny table: one row per (grp, bucket) slice; exclusive running count
    // within the group across ascending buckets (buckets are monotone in
    // (grp, ord) order, so bucket order IS ord order within a group)
    val offsets = local
      .groupBy((grpCols :+ "__bkt").map(col): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__off",
        coalesce(sum("__c").over(Window.partitionBy(grpCols.map(col): _*)
          .orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((grpCols :+ "__bkt").map(col) :+ col("__off"): _*)

    // null-SAFE reattach: a plain equi-join would silently drop rows whose
    // group value is NULL (NULL != NULL), while the contract — and the
    // PARTITION BY twin the oracles replay — keeps a NULL partition
    val offT = grpCols.foldLeft(offsets.withColumnRenamed("__bkt", "__obkt")) {
      (d, c) => d.withColumnRenamed(c, s"__g_$c")
    }
    val cond = (grpCols.map(c => col(c) <=> col(s"__g_$c")) :+
      (col("__bkt") === col("__obkt"))).reduce(_ && _)
    local.join(broadcast(offT), cond)
      .withColumn("rank", col("__lrn") + col("__off"))
      .drop(grpCols.map(c => s"__g_$c") :+ "__obkt" :+ "__off" :+ "__bkt" :+ "__lrn": _*)
  }

  /** Per-group running totals, distributed: (doc_id, group, value, cum)
    * where `cum` is the inclusive running sum of `valueExpr` within each
    * group in id order — semantics ≡ `sum(value) OVER (PARTITION BY group
    * ORDER BY id)`, computed with the grouped two-phase prefix sum
    * (deterministic range buckets over (group, id) → per-(group, bucket)
    * windows → broadcast exclusive offsets) so no group ever serializes
    * into one task. Buckets are value-derived (see object doc): both the
    * offsets aggregate and the final join re-derive each row's bucket from
    * its data, so they agree on any cluster layout with no checkpoint pin.
    *
    * The building block behind token-budget quotas ([[tokenQuota]]) and any
    * "cumulative X within domain" curation rule.
    */
  def groupRunningTotals(df: DataFrame, groupCol: String, idCol: String,
      valueExpr: org.apache.spark.sql.Column, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val rows = df
      .select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
        valueExpr.cast("long").as("value"))
    // small input: the windowed running sum is the contract itself — skip
    // the bucket/offsets machinery (see [[windowRoute]])
    if (windowRoute(rows, p)) {
      return rows.select(col("doc_id"), col("grp").as(groupCol), col("value"),
        sum("value").over(Window.partitionBy("grp").orderBy("doc_id")).as("cum"))
    }
    val bounds = rangeBucketBoundaries(rows, Seq("grp", "doc_id"), p)
    val local = rows
      .withColumn("bkt", rangeBucketExpr(Seq("grp", "doc_id"), bounds))
      .withColumn("local_cum",
        sum("value").over(Window.partitionBy("grp", "bkt").orderBy("doc_id")))

    val offsets = local.groupBy("grp", "bkt").agg(sum("value").as("c"))
      .withColumn("offset",
        coalesce(sum("c").over(Window.partitionBy("grp").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("grp").as("ogrp"), col("bkt").as("obkt"), col("offset"))

    // null-safe on grp: a NULL group is a real partition (the PARTITION BY
    // twin keeps it); a plain equi-join would silently drop its rows
    local.join(broadcast(offsets),
        col("grp") <=> col("ogrp") && col("bkt") === col("obkt"))
      .select(col("doc_id"), col("grp").as(groupCol), col("value"),
        (col("local_cum") + col("offset")).as("cum"))
  }

  /** Exact per-group TOKEN budget: keep each group's docs (in id order)
    * while the cumulative token count stays within `budget` — the "at most
    * N tokens per domain" mixing rule, a token-weighted sharpening of the
    * per-doc-count quota. A doc is kept iff its inclusive running total fits
    * the budget entirely (docs larger than the budget are dropped even when
    * first).
    */
  def tokenQuota(df: DataFrame, groupCol: String, idCol: String,
      tokenExpr: org.apache.spark.sql.Column, budget: Long,
      partitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    groupRunningTotals(df, groupCol, idCol, tokenExpr, partitions)
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col(groupCol), col("value").as("n_tokens"), col("cum"))
  }

  /** Reference formulation (single-task global window) — used by the spec as
    * the differential twin of [[packShards]]. Do NOT use at scale.
    */
  def packShardsNaive(df: DataFrame, idCol: String,
      tokenExpr: org.apache.spark.sql.Column, budget: Long): DataFrame = {
    val cum = sum("n_tokens").over(Window.orderBy("doc_id"))
    df.select(col(idCol).as("doc_id"), tokenExpr.cast("long").as("n_tokens"))
      .withColumn("shard",
        floor((cum - col("n_tokens")).cast("double") / budget.toDouble).cast("long"))
  }
}
