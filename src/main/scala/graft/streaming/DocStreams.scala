package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming twins of the document-curation operators: the per-row text
  * stages (quality scoring, run scrubbing, token counting, fingerprinting)
  * are stateless codegen'd expressions, so they run unchanged on a
  * `readStream` frame; the only stateful stage — dedup — becomes a
  * watermarked `dropDuplicates`, with state bounded to fingerprints inside
  * the watermark window instead of the whole corpus.
  */
object DocStreams {

  /** Streaming curation: quality filter → run scrub → token count →
    * fingerprint dedup. On a stream, "first arrival wins" within the
    * watermark window (the streaming-natural keep rule — a stream has an
    * arrival order where a batch has none); for deterministic batch
    * dedup semantics use the batch pipeline (min-id keeper, q91).
    * Returns (doc_id, ts?, cleaned, n_tokens, fp).
    *
    * State is genuinely watermark-bounded: `dropDuplicatesWithinWatermark`
    * evicts a fingerprint once the watermark passes it. A plain
    * `dropDuplicates(fp)` under a watermark would NOT evict (Spark only
    * purges dedup state when the event-time column is part of the key),
    * so its state grows with every fingerprint ever seen.
    */
  def curateStream(docs: DataFrame, minQuality: Double,
      tsCol: String = "ts", watermark: String = "10 minutes"): DataFrame = {
    val scored = docs
      .filter(TextFunctions.qualityScore(col("text")) >= minQuality)
      .withColumn("cleaned", TextFunctions.scrubTokenRuns(col("text")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("cleaned")).cast("long"))
      .withColumn("fp", TextFunctions.fingerprint(col("cleaned")))
      .drop("text")
    if (docs.isStreaming)
      scored.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("fp")
    else scored.dropDuplicates("fp")
  }

  /** Streaming NEAR-duplicate suppression — the fuzzy step past
    * [[curateStream]]'s exact-fingerprint dedup: documents whose `bits`-bit
    * SimHash signatures COLLIDE within the watermark window are suppressed
    * after the first arrival. SimHash puts token-overlapping documents in
    * the same signature with high probability (the [[graft.operators.Dedup
    * .simHashNearDup]] exact-collision group, here used as the state key),
    * so boilerplate re-crawls and lightly-edited mirrors are caught that a
    * content hash misses — at the price SimHash always charges (rare
    * false merges at small `bits`; size `bits` to the corpus).
    *
    * The signature is a stateless codegen'd per-row column
    * ([[graft.operators.Dedup.simHashCol]]), so the only stateful stage is
    * the signature-keyed `dropDuplicatesWithinWatermark` — state holds one
    * entry per DISTINCT signature inside the window (≤ 2^bits no matter
    * the corpus), evicted as the watermark passes. On a batch frame the
    * same pipeline degrades to `dropDuplicates(simhash)` — first-arrival
    * order is a stream-only notion; batch callers wanting a deterministic
    * keeper should group on the signature and pick min-id (the q91 rule).
    */
  def simhashDedupStream(docs: DataFrame, textCol: String = "text",
      bits: Int = 16, tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    val sig = docs.withColumn("simhash",
      graft.operators.Dedup.simHashCol(col(textCol), bits))
    if (docs.isStreaming)
      sig.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("simhash")
    else sig.dropDuplicates("simhash")
  }

  /** Rolling-crawl ingest — the architecture the store/incremental layers
    * exist for, wired to a stream: every micro-batch is near-dup-deduped
    * against the PERSISTED signature store
    * ([[graft.operators.Dedup.incrementalMinHashDedupFromStore]] — the
    * corpus is never re-read, never re-shingled), surviving documents are
    * appended to `outPath`, and their signatures are appended to the
    * store so every LATER batch — and every later RESTART — dedups
    * against everything ingested so far. This is state no streaming
    * operator can hold: `dropDuplicatesWithinWatermark` is watermark-
    * bounded and `mapGroupsWithState` dies with the checkpoint, while a
    * crawl's dedup memory is corpus-lifetime and must survive job
    * restarts; `foreachBatch` + the parquet store is the Spark-native
    * shape for that (the store validates its hashing scheme on every
    * probe, so a restart with drifted settings fails loudly).
    *
    * Per cycle at 100 TB: O(|batch| shingles + |store| ids) — one band
    * join per batch against stored (doc_id, tids), no text ever shuffled
    * from the store side.
    *
    * Delivery: `foreachBatch` is at-least-once. The append ORDER (output,
    * then store) makes the two failure windows behave differently: a
    * crash before the store append replays the identical survivor set —
    * DUPLICATE rows in `outPath`, store correct; a crash after it replays
    * against a store already holding the batch's own signatures, so every
    * doc self-near-dups out and the replay appends nothing — output keeps
    * the first attempt's rows, both sides correct. Future-batch dedup is
    * right in every case (duplicate store rows only duplicate band
    * candidates, which `distinct` collapses). Exactly-once OUTPUT needs an
    * idempotent sink (per-batch subdirectories keyed on `batchId`, or a
    * transactional table format) — documented rather than faked.
    *
    * @return the started query; callers own awaitTermination/stop
    */
  /** CDC latest-wins upsert sink — the crawl-REFRESH shape (later versions
    * of a document REPLACE earlier ones) that [[ingestDedupStream]]'s
    * drop-near-dups shape deliberately is not. Each micro-batch of keyed,
    * versioned updates is merged into a parquet table hash-partitioned on
    * `bucket = portable_md5(key) % buckets`:
    *
    *   1. the batch's affected buckets are computed (a collect bounded by
    *      `buckets`, never by data);
    *   2. ONLY those bucket partitions are read back (the `bucket IN (...)`
    *      filter is a partition filter — untouched directories are never
    *      listed, read, or rewritten);
    *   3. per key, the highest (version, source-priority, content-hash)
    *      wins — batch beats table on version ties, so re-delivering an
    *      update is an overwrite, and the hash tie-break keeps
    *      multiple same-version updates inside one batch deterministic;
    *   4. the merge is written with DYNAMIC partition overwrite, replacing
    *      exactly the affected bucket directories.
    *
    * Per micro-batch at 100 TB: O(|batch| + |rows in affected buckets|) —
    * size `buckets` so one bucket fits an executor (65k buckets on a
    * 100 TB table ≈ 1.5 GB each) and point-update batches touch a small
    * fraction of the table. Replaying a batch reproduces the identical
    * merge (the priority rule is idempotent), so foreachBatch's
    * at-least-once delivery is safe; CONCURRENT writers are not — dynamic
    * partition overwrite is last-writer-wins per directory, single-writer
    * per table (a transactional table format is the multi-writer answer;
    * documented, not faked).
    */
  def upsertStream(updates: DataFrame, tablePath: String,
      checkpointPath: String, keyCol: String, versionCol: String,
      buckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    updates.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, tablePath, keyCol, versionCol, buckets)
      }
      .start()
  }

  /** One micro-batch of [[upsertStream]]'s merge — exposed so the batch
    * twin and the specs drive the identical code path. Portable bucket
    * hash (md5 first-8-hex-digits mod `buckets`, the q69 split idiom) so
    * the layout itself is oracle-checkable.
    */
  /** `Some(read)` iff `path` EXISTS, `None` iff it does not — and a loud
    * failure for everything else. The distinction is load-bearing for both
    * sinks below: an absent table/store is the legitimate first-batch case,
    * but any OTHER read failure (corrupt footer, transient FS error,
    * exhausted task retries, a concurrent maintenance pass deleting files
    * mid-read) must propagate so the micro-batch fails and RETRIES — a
    * catch-all that maps every failure to "empty" would make the upsert
    * merge rewrite affected buckets from the batch alone (destroying every
    * stored row not in the batch) and make the ingest loop silently skip
    * dedup against all prior history.
    */
  private def parquetIfExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "exists" is not "readable table": a dir holding only _SUCCESS (an
    // empty first micro-batch) or markers would fail schema inference on
    // EVERY retry — semantically it IS the legitimate absent/empty case.
    // One recursive metadata listing decides: absent-or-markers-only ⇒
    // None; any data file present ⇒ read, and read failures propagate.
    def hasDataFile: Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = !(name.startsWith("_") || name.startsWith("."))
      }
      found
    }
    if (fs.exists(p) && hasDataFile) Some(graft.Tables.read(spark, path)) else None
  }

  def upsertBatch(batch: DataFrame, tablePath: String, keyCol: String,
      versionCol: String, buckets: Int): Unit = {
    // the publish loop below does its OWN per-bucket aside/rename swap
    // with a marker-gated heal — the same custom-protocol class as the
    // IVF store's, with the same undeclared-on-object-stores hazard
    // (r17): refuse schemes without atomic create-exclusive + rename
    graft.FsContract.requireAtomicScheme(batch.sparkSession, tablePath, "upsertBatch",
      "the upsert publish protocol (per-bucket aside/rename swap + " +
        "marker-gated heal)")
    // AQE is pure overhead for this merge: it turns each exchange into its
    // own query-stage job and re-plans between them, but both plans here
    // are bounded and explicitly laid out (the discovery agg collects ≤
    // `buckets` longs; the merge width is pinned to the affected-bucket
    // count for the one-file-per-dir contract) — measured at gate scale:
    // 4 jobs → 2 and ~40% off the per-refresh wall (A/B in README.md).
    // It runs on a clone of the batch's session with AQE off, so the
    // caller's session, and any query planned on it meanwhile, keeps AQE;
    // its table reads go through the clone too.
    val noAqe = org.apache.spark.sql.GraftSqlBridge.onClone(batch,
      "spark.sql.adaptive.enabled" -> "false")
    val spark = noAqe.sparkSession
    val bucket = pmod(
      conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(buckets.toLong))
    val tableDir = new org.apache.hadoop.fs.Path(tablePath)
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tableExists = fs.exists(tableDir)
    // When a table exists the batch feeds two plans (affected-bucket
    // discovery + merge), but is NOT cached: the discovery scan reads only
    // the key column (column-pruned at the source) and a foreachBatch
    // micro-batch recomputes deterministically from bounded source data,
    // so paying a block-store materialization of the full rows to save
    // that narrow re-read measured ~15% SLOWER per refresh (A/B recorded
    // in README.md). The FIRST batch has nothing to read back: no
    // discovery job at all — the initial load is ONE job + publish.
    val keyed = noAqe.withColumn("bucket", bucket)
    // Heal a crashed prior publish BEFORE discovery. The publish loop below
    // drops an in-progress marker while it renames; if the marker survives,
    // some bucket may sit ASIDE (.bucket=N.__old) with its dest missing —
    // the affectedDirs exists() filter would then treat that bucket as
    // empty, merge batch-only, and the stale-aside cleanup would delete the
    // only copy of its stored rows. Restoring aside→dest first means the
    // retry's merge sees the old rows again. Marker-gated so the table-wide
    // listing (one NN call, but 65k entries at the design point) is paid
    // only on the crash-recovery path, never per healthy micro-batch.
    val publishMarker = new org.apache.hadoop.fs.Path(
      tableDir, "._graft_publish_inprogress")
    if (tableExists && fs.exists(publishMarker)) {
      fs.listStatus(tableDir)
        .filter { s =>
          val n = s.getPath.getName
          n.startsWith(".bucket=") && n.endsWith(".__old")
        }
        .foreach { s =>
          val n = s.getPath.getName
          val dest = new org.apache.hadoop.fs.Path(
            tableDir, n.stripPrefix(".").stripSuffix(".__old"))
          // dest present ⇒ the crashed run already renamed the NEW dir in
          // (crash was between rename-in and aside-delete): the aside is
          // superseded — drop it here, since this batch's publish loop only
          // cleans asides of buckets IT touches.
          if (fs.exists(dest)) fs.delete(s.getPath, true)
          else if (!fs.rename(s.getPath, dest)) throw new java.io.IOException(
            s"upsertBatch: crash-recovery restore ${s.getPath} -> $dest failed")
        }
      fs.delete(publishMarker, false)
    }
    // bounded by `buckets`, never by data; collect_set aggregates to ONE
    // reduce task (a distinct would shuffle the session's full partition
    // width for a result of ≤`buckets` longs — measured as a visible
    // share of the per-micro-batch floor)
    val affected: Seq[Long] =
      if (!tableExists) Seq.empty
      else keyed.select("bucket")
        .agg(collect_set("bucket")).head().getSeq[Long](0)
    val dataCols = keyed.columns.filterNot(c => c == keyCol || c == "bucket")
    def tagged(df: DataFrame, priority: Int): DataFrame =
      df.select(col(keyCol), col("bucket"),
        struct(
          col(versionCol).as("_v"), lit(priority).as("_prio"),
          xxhash64(dataCols.map(col): _*).as("_tie"),
          struct(dataCols.map(col): _*).as("_row")).as("_m"))
    // the affected-bucket read stays LAZY and lists ONLY the affected
    // bucket=N directories (basePath recovers the partition column): a
    // whole-table read would build a file index over every bucket dir
    // just to prune most of them — at the 65k-bucket design point that
    // listing dwarfs the delta itself. |affected| exists() probes
    // replace it. Because the merge output lands in a sibling temp dir
    // (below) there is no read-overwrite cycle to break — the old
    // localCheckpoint pin materialized every current row twice
    // (checkpoint write + read-back) as a dedicated driver job per
    // micro-batch. Empty when no affected bucket dir exists yet (first
    // batch); a read failure on an existing dir propagates so the
    // micro-batch retries.
    val affectedDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(tableDir, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    // treating "no affected dir" as empty is only safe when the path is
    // absent, empty, or a real bucket layout (all-new buckets). A path
    // holding anything ELSE is some other table — merging "against
    // empty" would silently publish bucket dirs beside it. Early-exit
    // scan: the first bucket= entry proves the layout without listing
    // the other 65k dirs.
    if (affectedDirs.isEmpty && tableExists) {
      val it = fs.listStatusIterator(tableDir)
      var bucketSeen = false
      var alien: Option[String] = None
      while (!bucketSeen && it.hasNext) {
        val name = it.next().getPath.getName
        if (name.startsWith("bucket=")) bucketSeen = true
        else if (!(name.startsWith("_") || name.startsWith("."))) alien = Some(name)
      }
      if (!bucketSeen) alien.foreach { a =>
        throw new java.io.IOException(
          s"upsertBatch: $tablePath exists but is not a bucket-partitioned " +
            s"upsert table (found '$a') — refusing to merge against it")
      }
    }
    // explicit schema (batch columns + the long partition column): the
    // stored files were written from this exact projection, so inference
    // would only re-read footers to learn what the caller already knows
    val current =
      if (affectedDirs.isEmpty) keyed.limit(0)
      else spark.read.schema(keyed.schema)
        .option("basePath", tablePath).parquet(affectedDirs: _*)
    // ONE shuffle for merge + layout: repartitioning on `bucket` BEFORE the
    // aggregate both satisfies the groupBy's clustering requirement
    // (HashPartitioning(bucket) is an expression subset of (key, bucket) —
    // same bucket ⇒ same task, and bucket is a function of the key) and
    // leaves the output bucket-aligned for the partitioned write, so each
    // rewritten bucket directory gets ONE file per micro-batch instead of
    // one per shuffle task — B small files of compaction debt, not T×B
    // merge parallelism = the affected-bucket count, not the session
    // shuffle width: each task is exactly one bucket-dir rewrite (the
    // file-layout contract — one file per dir holds under ANY bucket-
    // keyed partitioning), and a 5-bucket delta shouldn't schedule 32
    // near-empty tasks per micro-batch. The first batch skipped the
    // discovery job, so it spreads across min(buckets, shuffle width).
    val mergeParts =
      if (!tableExists) math.max(1, math.min(buckets,
        spark.sessionState.conf.numShufflePartitions))
      else math.max(affected.size, 1)
    // The batch lineage is evaluated twice when uncached (discovery, then
    // here). Bucket is a pure function of the key, so under deterministic
    // replay this filter is a no-op — but if a nondeterministic source
    // recomputes DIFFERENT keys, an unguarded merge would publish rows
    // into bucket dirs that were never read, overwriting their stored
    // rows batch-only. Pinning the merge to the collected affected set
    // makes the failure mode "a nondeterministic row is dropped this
    // micro-batch" instead of "a bucket of stored rows is lost". First
    // batch (no discovery) takes every bucket.
    val batchSide =
      if (!tableExists) tagged(keyed, 1)
      else tagged(keyed, 1).where(col("bucket").isin(affected: _*))
    val merged = tagged(current, 0).unionByName(batchSide)
      .repartition(mergeParts, col("bucket"))
      .groupBy(keyCol, "bucket") // reuses the bucket exchange, no 2nd shuffle
      .agg(max("_m").as("_m"))   // lexicographic: version, priority, hash
      .select(col(keyCol) +: col("bucket") +:
        dataCols.map(c => col(s"_m._row.$c").as(c)): _*)
    // write-then-publish — 2 driver jobs per refresh micro-batch
    // (discovery collect + this write; was 3 with the checkpoint
    // round-trip) and 1 for the initial load: the
    // merged rows land in a sibling temp dir in one job, then each
    // rewritten bucket=N dir is published into the table by metadata-only
    // renames. A crash before the publish loop leaves the table
    // untouched; per bucket the old dir is renamed ASIDE before the new
    // one is renamed in and the aside copy deleted LAST, so whole-bucket
    // dirs are always either old, aside (recoverable), or new — never
    // gone (a transactional table format is the multi-writer/
    // multi-bucket-atomic answer; documented, not faked). A crash INSIDE
    // the loop — between aside and rename-in — leaves the in-progress
    // marker behind; the retry's heal pass (top of this method) restores
    // any aside whose dest is missing BEFORE discovery, so the replayed
    // merge sees the old rows and the retry's publish supersedes the
    // aside.
    val tmpDir = new org.apache.hadoop.fs.Path(
      tableDir.getParent, tableDir.getName + ".__graft_upsert_tmp")
    fs.delete(tmpDir, true)
    try {
      merged.write.mode("overwrite").partitionBy("bucket").parquet(tmpDir.toString)
      fs.mkdirs(tableDir)
      fs.create(publishMarker, true).close()
      fs.listStatus(tmpDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .foreach { s =>
          val dest = new org.apache.hadoop.fs.Path(tableDir, s.getPath.getName)
          val aside = new org.apache.hadoop.fs.Path(tableDir,
            "." + s.getPath.getName + ".__old")
          fs.delete(aside, true) // stale aside superseded by this publish
          val destExisted = fs.exists(dest)
          val hadOld = destExisted && fs.rename(dest, aside)
          // a false aside-rename with dest still present must NOT fall
          // through: Hadoop rename onto an existing directory moves the
          // source INSIDE it, silently nesting bucket=N/bucket=N
          if (destExisted && !hadOld) throw new java.io.IOException(
            s"upsertBatch: aside rename $dest -> $aside failed while " +
              s"$dest still exists — refusing to rename into an occupied dir")
          try {
            if (!fs.rename(s.getPath, dest)) throw new java.io.IOException(
              s"upsertBatch: publish rename ${s.getPath} -> $dest failed")
          } catch { // restore on THROWN failures too, then fail loudly
            case e: Throwable =>
              if (hadOld && !fs.exists(dest)) fs.rename(aside, dest)
              throw e
          }
          if (hadOld) fs.delete(aside, true)
        }
      fs.delete(publishMarker, false)
    } finally fs.delete(tmpDir, true): Unit
  }

  def ingestDedupStream(docs: DataFrame, storePath: String, outPath: String,
      checkpointPath: String, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      shingle: Int = 3, portableIds: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // per-micro-batch sub-steps as spans of the caller's QueryTrace
        // (the micro-batch thread inherits it when the stream starts inside
        // one): the r14 cross-box q214 swing localized to the store-grown
        // cycles, but the cycle number alone could not say WHICH part
        // (store read, dedup band join, output publish, signature append)
        // carried it
        def span[T](n: String)(body: => T): T =
          graft.QueryTrace.span(spark, s"b${batchId}_$n")(body)
        // the batch feeds two plans (the dedup probe and the survivor
        // semi-join) — CACHE it rather than eagerly checkpoint: the first
        // action populates the block store as a side effect of work it was
        // doing anyway, where localCheckpoint(true) paid a dedicated
        // materialization job per micro-batch (two of them, measured as
        // the dominant share of the q214 gate's wall time)
        graft.Pin.cached(batch) { pinned =>
          // an absent store (first batch ever) is an EMPTY store with the
          // batch-derived schema — limit(0) through signatureStore gives
          // exactly the columns a written store would have. Absence ONLY:
          // any other store read failure propagates and the micro-batch
          // retries ([[parquetIfExists]]) instead of silently skipping
          // dedup against all prior history.
          val store = span("store_read")(parquetIfExists(spark, storePath)
            .getOrElse(Dedup.signatureStore(pinned.limit(0), textCol, idCol,
              shingle, portableIds)))
          def dedup() = Dedup.incrementalMinHashDedupFromStore(
            pinned, store, textCol, idCol, threshold,
            shingle = shingle, portableIds = portableIds)
          // eager inside (batch-bound pin): the band join runs here. Under a
          // trace, a nested one keeps this batch's candidate counts apart
          // from the other batches' as b<N>_cand_corpus / b<N>_cand_batch
          // (the unprefixed keys it also reports outward end at the last
          // batch's): flat counts + moving time = environmental; moving
          // counts = band skew
          val survivors = span("dedup") {
            if (!graft.QueryTrace.active(spark)) dedup()
            else {
              val (s, t) = graft.QueryTrace.run(spark)(dedup())
              t.attributes.foreach { case (k, v) =>
                graft.QueryTrace.record(spark, s"b${batchId}_$k", v)
              }
              s
            }
          }
          // survivors is eagerly pinned inside the dedup (batch-bound ids),
          // so kept's lineage is cache blocks + that pin — the store append
          // below cannot leak back into it, and the output write doubles as
          // the cache-populating action for the signature append that
          // follows (one batch scan feeds both, no checkpoint round-trip)
          graft.Pin.cached(pinned.join(survivors,
              pinned(idCol) === survivors("doc_id"), "left_semi")) { kept =>
            span("publish")(kept.write.mode("append").parquet(outPath))
            span("sig_append")(Dedup.signatureStore(kept, textCol, idCol,
              shingle, portableIds).write.mode("append").parquet(storePath))
          }
        }
        ()
      }
      .start()
  }
}
