package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("sessionize splits on gap and is 1-based per user") {
    val df = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(10)), (3L, 100L, ts(50)),  // gap 40min -> new session
      (4L, 200L, ts(0)))
      .toDF("event_id", "user_id", "ts")
    val r = EventStreams.sessionize(df, gapSeconds = 1800)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("stateful sessionization closes sessions on gap, batch flushes open") {
    import EventStreams.{Evt, Session}
    val ds = Seq(
      Evt(1, 100, ts(0), 1.0), Evt(2, 100, ts(10), 2.0),  // session 1
      Evt(3, 100, ts(50), 4.0),                           // gap 40min -> session 2
      Evt(4, 200, ts(5), 8.0))
      .toDS()
    val sessions = EventStreams.sessionizeStateful(ds, gapSeconds = 1800)
      .collect().map(s => (s.user_id, s.session_idx) -> s).toMap
    assert(sessions.size === 3)
    assert(sessions((100L, 1L)).n_events === 2 && sessions((100L, 1L)).total_value === 3.0)
    assert(sessions((100L, 2L)).n_events === 1 && sessions((100L, 2L)).total_value === 4.0)
    assert(sessions((200L, 1L)).n_events === 1)
    assert(sessions((100L, 1L)).start === ts(0) && sessions((100L, 1L)).end === ts(10))
  }

  test("session_window boundary: diff == gap still MERGES (inclusive rule)") {
    // probed empirically: Spark merges sessions at an exactly-gap-sized
    // diff (windows touch as [t, t+gap) next-start == end and the merge
    // predicate is inclusive), matching q71's lag rule — the q135 oracle
    // encodes new-session-at > gap. Real event data almost never lands a
    // microsecond-exact 30-min gap, so the gate alone cannot test this
    // boundary; this spec pins it.
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")), // diff == gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00.000001"))) // just over
      .toDF("user_id", "ts")
    val n = df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1)
    assert(n(1L).length === 1, "diff == gap must merge")
    assert(n(2L).length === 2, "diff > gap must split")
  }

  test("stateful sessionization preserves sub-millisecond event times") {
    import EventStreams.Evt
    // µs-resolution timestamps (the real events table has sub-ms on ~every
    // row): session boundaries must round-trip micros exactly, not truncate
    // to the Timestamp(millis) constructor's resolution
    def tsUs(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000L) * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    val a = tsUs(1000L * 1000000L + 123457L)  // 1000.123457 s
    val b = tsUs(1010L * 1000000L + 999001L)
    val ds = Seq(Evt(1, 5, a, 1.0), Evt(2, 5, b, 1.0)).toDS()
    val s = EventStreams.sessionizeStateful(ds, gapSeconds = 1800).collect().head
    assert(s.start === a && s.end === b)
  }

  test("stateful sessionization over a real stream emits closed sessions") {
    import EventStreams.Evt
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    Seq(Evt(1, 1, ts(0), 1.0), Evt(2, 1, ts(10), 1.0), Evt(3, 1, ts(60), 1.0))
      .toDS().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir).as[Evt]
    val q = EventStreams.sessionizeStateful(stream, gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()
    // only the CLOSED session (gap before minute 60) is emitted; the open one stays in state
    val out = spark.table("sess_out").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_events") === 2)
  }

  test("funnel: earliest strictly-increasing chain, partial reach, window cut") {
    import EventStreams.funnel
    val ev = Seq(
      // user 1: completes in order within window
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // user 2: click BEFORE first view never chains; later click does
      (2L, "click", ts(0)), (2L, "view", ts(5)), (2L, "click", ts(7)),
      // user 3: completes but outside the 30-min window
      (3L, "view", ts(0)), (3L, "click", ts(10)), (3L, "purchase", ts(100)),
      // user 4: never viewed -> absent
      (4L, "purchase", ts(1)),
      // user 5: click at the SAME ts as view does not chain (strict >)
      (5L, "view", ts(3)), (5L, "click", ts(3)))
      .toDF("user_id", "event_type", "ts")
    val out = funnel(ev, Seq("view", "click", "purchase"), withinSeconds = 1800)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("steps_completed"), r.getAs[Boolean]("completed")))).toMap
    assert(out(1L) === ((3L, true)))
    assert(out(2L) === ((2L, false)))   // reached click via ts(7)
    assert(out(3L) === ((3L, false)))   // completed but > 30 min
    assert(!out.contains(4L))
    assert(out(5L) === ((1L, false)))   // same-ts click ignored
  }

  test("streaming as-of matches the batch AsofJoin operator on batch input") {
    import EventStreams.{AsofProbe, AsofRef}
    val probes = Seq(AsofProbe(7L, ts(10), 1L), AsofProbe(7L, ts(25), 2L),
      AsofProbe(7L, ts(5), 3L), AsofProbe(9L, ts(50), 4L)).toDS()
    val refs = Seq(AsofRef(7L, ts(10), 100.0), AsofRef(7L, ts(20), 101.0)).toDS()

    val streaming = EventStreams.asofStateful(probes, refs)
      .collect().map(m => m.probe_id -> m.asof_value).toMap

    val batch = graft.operators.AsofJoin.asofJoin(
        probes.toDF("key", "t", "probe_id"), refs.toDF("key", "rt", "value"),
        leftKey = "key", rightKey = "key", leftTime = "t", rightTime = "rt",
        valueCols = Seq("value"))
      .select("probe_id", "asof_value")
      .as[(Long, Option[Double])].collect().toMap

    assert(streaming === batch)
    assert(streaming === Map(1L -> Some(100.0), 2L -> Some(101.0), 3L -> None, 4L -> None))
  }

  test("streaming as-of carries ref state across micro-batches") {
    import EventStreams.{AsofProbe, AsofRef}
    val dirP = java.nio.file.Files.createTempDirectory("asofp").toString
    val dirR = java.nio.file.Files.createTempDirectory("asofr").toString
    // batch 1: the ref; batch 2 (later file): the probe — state must carry
    Seq(AsofRef(7L, ts(10), 42.0)).toDS().write.mode("overwrite").parquet(dirR)
    Seq(AsofProbe(7L, ts(30), 1L)).toDS().write.mode("overwrite").parquet(dirP)
    val p = spark.readStream.schema(spark.read.parquet(dirP).schema).parquet(dirP)
      .as[AsofProbe]
    val r = spark.readStream.schema(spark.read.parquet(dirR).schema).parquet(dirR)
      .as[AsofRef]
    val q = EventStreams.asofStateful(p, r)
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("asof_out").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("asof_value") === 42.0)
  }

  test("streaming dedup drops repeated keys within the watermark window") {
    val dir = java.nio.file.Files.createTempDirectory("dedup").toString
    // timestamps off epoch: a row AT the initial watermark (epoch 0) would
    // be discarded as late before dedup state even forms
    Seq((1L, ts(60), "a"), (1L, ts(60), "a-dup"), (2L, ts(61), "b"), (1L, ts(65), "a-later"))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = EventStreams.dedupStream(stream, Seq("k"), "ts", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out").collect().map(_.getLong(0)).toSeq.sorted
    // (1, ts0) kept once; (1, ts5) is a distinct (k, ts) pair; 2 kept
    assert(out === Seq(1L, 1L, 2L))
  }

  test("stream-stream interval join matches within tolerance only") {
    val dirL = java.nio.file.Files.createTempDirectory("ssl").toString
    val dirR = java.nio.file.Files.createTempDirectory("ssr").toString
    Seq((1L, 7L, ts(10)), (2L, 7L, ts(100)), (3L, 8L, ts(10)))
      .toDF("event_id", "user_id", "ts").write.mode("overwrite").parquet(dirL)
    Seq((91L, 7L, ts(11)), (92L, 7L, ts(50)), (93L, 9L, ts(10)))
      .toDF("click_id", "user_id", "ts").write.mode("overwrite").parquet(dirR)
    val l = spark.readStream.schema(spark.read.parquet(dirL).schema).parquet(dirL)
    val r = spark.readStream.schema(spark.read.parquet(dirR).schema).parquet(dirR)
    val q = EventStreams.intervalJoin(l, r, "user_id", toleranceSeconds = 120)
      .select("event_id", "click_id_r")
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("ssj").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // event 1 (user 7, t=10m) matches click 91 (t=11m) within 2 min; click 92
    // (t=50m) is out of tolerance; user 8/9 rows never match
    assert(pairs === Set((1L, 91L)))
  }

  test("left outer interval join: null rows emit only after the watermark proves the window empty") {
    val dirL = java.nio.file.Files.createTempDirectory("sslo").toString
    val dirR = java.nio.file.Files.createTempDirectory("ssro").toString
    // user 7: event 1 (t=10m) matches click 91 (t=11m); event 2 (t=100m)
    // has no click inside ±2 min — the null-padded candidate
    Seq((1L, 7L, ts(10)), (2L, 7L, ts(100)))
      .toDF("event_id", "user_id", "ts").write.mode("overwrite").parquet(dirL)
    Seq((91L, 7L, ts(11)))
      .toDF("click_id", "user_id", "ts").write.mode("overwrite").parquet(dirR)
    def side(dir: String) =
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = EventStreams.intervalJoin(side(dirL), side(dirR), "user_id",
        toleranceSeconds = 120, watermark = "0 seconds", joinType = "left_outer")
      .select("event_id", "click_id_r")
      .writeStream.outputMode("append").format("memory").queryName("ssoj").start()
    try {
      q.processAllAvailable()
      def rows = spark.table("ssoj").collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
      // inner match emits in the completing micro-batch; event 2's null row
      // must NOT have emitted — the right watermark (11m) has not passed
      // its match window, so absence-of-match is not yet proven
      assert(rows === Set((1L, 91L)))
      // two sentinel micro-batches on BOTH sides: the first advances the
      // watermark past every real window, the second is the awaited data
      // batch in which the first's eviction emits the null row
      for (m <- Seq(10000L, 20000L)) {
        Seq((-m, 99L, ts(m))).toDF("event_id", "user_id", "ts")
          .write.mode("append").parquet(dirL)
        Seq((-m - 1, 99L, ts(m))).toDF("click_id", "user_id", "ts")
          .write.mode("append").parquet(dirR)
        q.processAllAvailable()
      }
      assert(rows.filter(_._1 > 0) === Set((1L, 91L), (2L, -1L)))
    } finally q.stop()
  }

  test("streaming windowedAgg equals batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("evt").toString
    val df = Seq(
      (1L, ts(1), "click", 1.0), (2L, ts(2), "click", 2.0), (3L, ts(61), "view", 3.0))
      .toDF("event_id", "ts", "event_type", "value")
    df.write.mode("overwrite").parquet(dir)
    val batch = EventStreams.windowedAgg(spark.read.parquet(dir), "1 hour")

    val stream = EventStreams.readEventStream(spark, spark.read.parquet(dir).schema, dir)
    assert(stream.isStreaming)
    val q = EventStreams.windowedAgg(stream, "1 hour", watermark = Some("10 minutes"))
      .writeStream.outputMode("complete").format("memory").queryName("win_spec").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_spec")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(batch.count() === 2)
  }

  test("streaming curation filters, scrubs and dedups documents by fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("docs_stream").toString
    val good = Array.fill(60)("the quick brown fox is in the pen").mkString(" ")
    val goodDup = Array.fill(60)("quick the brown the fox is in pen the").mkString(" ")
    Seq(
      (1L, ts(60), good + " extra extra tail"),            // kept, runs scrubbed
      (2L, ts(61), goodDup + " tail extra"),               // fp-dup of 1 (same token set)
      (3L, ts(62), "short low quality"),                   // quality-filtered
      (4L, ts(63), good + " unique closing words here"))   // kept, distinct fp
      .toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = DocStreams.curateStream(stream, minQuality = 0.2)
      .writeStream.outputMode("append").format("memory").queryName("curate_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("curate_out")
      .select("doc_id", "cleaned", "n_tokens", "fp").collect()
    // doc 3 quality-filtered; docs 1 and 2 share a fingerprint (same token
    // set after scrubbing) so exactly one survives; doc 4 always survives
    assert(out.length === 2)
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.contains(4L) && (ids.contains(1L) ^ ids.contains(2L)))
    // runs scrubbed: "extra extra" collapsed in doc 1's cleaned text
    out.find(_.getLong(0) === 1L).foreach { r =>
      assert(!r.getString(1).contains("extra extra"))
    }
    // batch fallback: same operator runs on a plain frame
    val batch = DocStreams.curateStream(spark.read.parquet(dir), minQuality = 0.2)
    assert(batch.count() === 2)
  }

  test("streaming SimHash dedup suppresses signature collisions, keeps distinct docs") {
    val dir = java.nio.file.Files.createTempDirectory("docs_simhash").toString
    Seq(
      (1L, ts(60), "alpha beta gamma delta epsilon"),
      (2L, ts(61), "beta alpha gamma epsilon delta"), // same token SET -> same simhash
      (3L, ts(62), "totally different words entirely here"))
      .toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = DocStreams.simhashDedupStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("simdedup_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("simdedup_out").select("doc_id", "simhash").collect()
    // docs 1 and 2 collide (identical token set -> identical signature):
    // exactly one survives; doc 3 has its own signature
    assert(out.length === 2)
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.contains(3L) && (ids.contains(1L) ^ ids.contains(2L)))
    // the streaming signature matches the batch operator's on the same rows
    val batchSig = graft.operators.Dedup
      .simHash(spark.read.parquet(dir), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(1) === batchSig(r.getLong(0))))
    // batch fallback keeps one row per signature
    assert(DocStreams.simhashDedupStream(spark.read.parquet(dir)).count() === 2)
  }

  test("foreachBatch incremental ingest: crawl cycles dedup against the accumulating store") {
    // the production rolling-crawl pattern: each micro-batch (one crawl
    // cycle) runs incrementalDedup against the store built by all prior
    // cycles, appends only its survivors, and the final store equals a
    // batch dedup of the full concatenation (keep-min-id)
    import org.apache.spark.sql.{Column, DataFrame}
    val src = java.nio.file.Files.createTempDirectory("crawlsrc").toFile
    val storeDir = java.nio.file.Files.createTempDirectory("crawlstore").toString + "/kept"
    val batches = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "uniq one")),
      Seq((3L, "alpha beta gamma"), (4L, "uniq two")),          // 3 dups 1
      Seq((5L, "uniq two"), (6L, "uniq three"),                 // 5 dups 4
        (7L, "uniq one"), (8L, "uniq three")))                  // 7 dups 2; 8 dups 6 in-batch
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"cycle$i").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(src, f"cycle$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L + i * 60000L) // arrival order = cycle order
    }
    val schema = spark.read.parquet(src.toString).schema
    val fp: DataFrame => Column = df => md5(trim(df("text")))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val store =
          if (new java.io.File(storeDir).exists()) spark.read.parquet(storeDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val keep = graft.operators.Dedup.incrementalDedup(batch, store, fp, "doc_id")
        batch.join(keep, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(storeDir)
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val kept = spark.read.parquet(storeDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 4L, 6L))
  }

  test("windowedDistinctHll estimate lands within HLL error of the truth") {
    // 600 events, 200 distinct keys, one window — p = 8 gives ±~6.5%
    // standard error; assert a generous 3σ band so the test pins accuracy,
    // not luck
    val df = (0 until 600).map(i => (i.toLong, (i % 200).toLong, ts(i / 60)))
      .toDF("event_id", "user_id", "ts")
    val out = EventStreams.windowedDistinctHll(df, "user_id", "24 hours", p = 8)
      .select("n_events", "est_distinct").as[(Long, Double)].collect()
    assert(out.length === 1)
    val (n, est) = out.head
    assert(n === 600L)
    assert(math.abs(est - 200.0) <= 200.0 * 0.2,
      s"p=8 estimate $est strays past 20% of the true 200")
  }

  test("windowedDistinctHll rejects p past the codegen-practical ceiling") {
    val df = Seq((1L, 1L, ts(0))).toDF("event_id", "user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      EventStreams.windowedDistinctHll(df, "user_id", "1 hour", p = 9)
    }
    assert(e.getMessage.contains("windowedDistinctHllArray"))
  }

  test("windowedDistinctHllArray rejects p past the state ceiling") {
    val df = Seq((1L, 1L, ts(0))).toDF("event_id", "user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour", p = 15)
    }
    assert(e.getMessage.contains("p must be in [2, 14]"))
  }

  test("HLL mapWidth spreads the register map without changing estimates") {
    // r18: the per-event md5/register map runs where the source is
    // partitioned — mapWidth inserts a round-robin exchange of (window,
    // key) BEFORE it so a narrow source (single-file stream) does not
    // serialize the sketch's hot loop on one core. Registers are per-row
    // values merged by max, so placement cannot move a single bit.
    val df = (0 until 500).map(i => (i.toLong, (i % 170).toLong, ts(i / 10)))
      .toDF("event_id", "user_id", "ts")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("win_start", "n_events", "est_distinct")
        .as[(Timestamp, Long, Double)].collect().toSet
    val plain = EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour", p = 10)
    val spread = EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour",
      p = 10, mapWidth = Some(8))
    assert(rows(spread) === rows(plain))
    assert(rows(plain).nonEmpty)
    val p = spread.queryExecution.executedPlan.toString
    assert(p.contains("roundrobin") || p.contains("RoundRobin"),
      s"mapWidth did not insert the spread exchange:\n$p")
    // width <= 1 must be the identity plan (the wide-deployment case)
    val id = EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour",
      p = 10, mapWidth = Some(1))
    assert(!id.queryExecution.executedPlan.toString.toLowerCase
      .contains("roundrobin"))
  }

  test("array-register HLL is bit-identical to the column encoding at p = 6") {
    // α coincides at m = 64 and both Σ2^−M folds run in register order,
    // so the doubles must match exactly, not within tolerance
    val df = (0 until 500).map(i => (i.toLong, (i % 170).toLong, ts(i / 10)))
      .toDF("event_id", "user_id", "ts")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("win_start", "n_events", "est_distinct")
        .as[(Timestamp, Long, Double)].collect().toSet
    val cols = rows(EventStreams.windowedDistinctHll(df, "user_id", "1 hour", p = 6))
    val arr = rows(EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour", p = 6))
    assert(arr === cols)
    assert(cols.nonEmpty)
  }

  test("array-register HLL at p = 10 tightens the estimate past the column ceiling") {
    val df = (0 until 3000).map(i => (i.toLong, (i % 900).toLong, ts(i / 60)))
      .toDF("event_id", "user_id", "ts")
    val est = EventStreams.windowedDistinctHllArray(df, "user_id", "24 hours", p = 10)
      .select("est_distinct").as[Double].head()
    // p=10 linear-counting/HLL regime: ±~4% at 3σ for 900 keys in 1024
    // registers — assert 10%
    assert(math.abs(est - 900.0) <= 90.0, s"p=10 estimate $est strays past 10% of 900")
  }

  test("array-register HLL runs as a STREAMING append aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("hll_arr_stream")
    try {
      // events span ~33 hours so the zero-delay watermark CLOSES windows
      // (an all-in-one-window corpus appends nothing)
      val df = (0 until 400).map(i => (i.toLong, (i % 130).toLong, ts(i * 5L)))
        .toDF("event_id", "user_id", "ts")
      df.write.mode("overwrite").parquet(dir.toString)
      val stream = spark.readStream.schema(df.schema).parquet(dir.toString)
      val agg = EventStreams.windowedDistinctHllArray(stream, "user_id",
        "1 hour", watermark = Some("0 seconds"), p = 10)
      val q = agg.writeStream.outputMode("append").format("memory")
        .queryName("hll_arr_spec").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("hll_arr_spec")
        .select("n_events", "est_distinct").as[(Long, Double)].collect()
      spark.catalog.dropTempView("hll_arr_spec")
      // zero-delay watermark appends only windows closed below max ts —
      // batch-twin the SAME emission rule to assert value equality
      val batch = EventStreams.windowedDistinctHllArray(df, "user_id", "1 hour", p = 10)
      val mx = df.agg(max("ts")).head().getTimestamp(0)
      val expect = batch
        .where(col("win_start") + expr("INTERVAL 1 HOUR") <= lit(mx))
        .select("n_events", "est_distinct").as[(Long, Double)].collect()
      assert(got.toSet === expect.toSet)
      assert(got.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("q215 eviction fallback: no-data micro-batches disabled still emits every null row") {
    // the round-12 single-sentinel scheme relies on the engine's no-data
    // micro-batch to surface the watermark evictions; when that engine
    // feature is OFF the bounded wait must expire and the second-sentinel
    // fallback must produce the identical result. This is the only
    // coverage of the fallback branch — without it a silent wait-forever
    // or an under-emitting fallback would only show up as a driver-gate
    // flake.
    val gate = graft.SparkEntry.queries("q215_stream_outer_interval")
    def run(): Set[Seq[Any]] = gate(spark, sf0001).collect().map(_.toSeq).toSet
    val viaNoDataBatch = run()
    withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val viaFallback = run()
      assert(viaFallback === viaNoDataBatch)
      assert(viaFallback.nonEmpty)
    }
  }

  test("drain: a stream whose batch throws stops and leaves no temp view behind") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def memoryStream() =
      MemoryStream[Int](org.apache.spark.sql.Encoders.scalaInt, spark.sqlContext)
    val in = memoryStream()
    in.addData(1, 2, 3)
    val boom = udf { (i: Int) =>
      if (i == 2) throw new IllegalStateException("boom")
      i
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.drain(in.toDF().select(boom(col("value")).as("v")), "stream_boom")(
        identity)
    }
    assert(!spark.catalog.listTables().collect()
      .exists(t => t.isTemporary && t.name.startsWith("stream_boom")))
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("stream_boom"))))
    // and a stream that succeeds returns its rows, pinned, with its view gone
    val ok = memoryStream()
    ok.addData(3, 1, 2)
    val out = EventStreams.drain(ok.toDF(), "stream_ok")(_.orderBy("value"))
    assert(out.as[Int].collect().toSeq === Seq(1, 2, 3))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("stream_ok")))
  }

  /** The shuffle-partition count a stream's first offset log recorded. */
  private def recordedPartitions(ckpt: java.nio.file.Path): String = {
    val log = new String(java.nio.file.Files.readAllBytes(ckpt.resolve("offsets/0")), "UTF-8")
    "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r
      .findFirstMatchIn(log).map(_.group(1)).getOrElse(s"none in $log")
  }

  /** Streaming listener buses on the SparkContext's listener bus: one per
    * session that has started a stream, unless released.
    */
  private def streamListenerBuses(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      .toArray.count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }

  private def withCheckpoint[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("drain_ckpt")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("drain's state-partition pin reaches a stateful stream's checkpoint, not the session") {
    withConf("spark.sql.shuffle.partitions" -> "6") {
      // q212's shape: a stream-stream interval join over one events source
      val src = EventStreams.eventsSource(spark, sf0001)
      def side(tpe: String) = src.filter(col("event_type") === tpe)
        .select("event_id", "user_id", "ts")
      val joined = EventStreams.intervalJoin(side("click"), side("view"), "user_id",
        toleranceSeconds = 1800, watermark = "0 seconds")
      /** Pairs drained, the recorded partitions, and the listener buses added. */
      def run(pin: Option[Int]): (Long, String, Int) = withCheckpoint { ckpt =>
        val buses = streamListenerBuses()
        val n = EventStreams.drain(joined, "stream_pin", statePartitions = pin,
          checkpoint = Some(ckpt.toString))(identity).count()
        (n, recordedPartitions(ckpt), streamListenerBuses() - buses)
      }
      val unpinned = run(None)
      val ((n, recorded, buses), seen) =
        sampledConf("spark.sql.shuffle.partitions")(run(Some(4)))
      assert(n > 0 && n === unpinned._1)
      assert(recorded === "4" && unpinned._2 === "6")
      assert(seen === Set(Map("spark.sql.shuffle.partitions" -> Some("6"))))
      // the session clone the pinned stream ran on leaves no listener
      // behind: it adds what the same stream adds on the session itself
      assert(buses === unpinned._3)
    }
  }

  test("a pinned drain reports its progress to the calling session's listeners") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // what a tracing harness records: each batch's addBatch duration
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = seen.add("started")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch")) seen.add("batch")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = seen.add("terminated")
    }
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Int](org.apache.spark.sql.Encoders.scalaInt, spark.sqlContext)
      in.addData(3, 1, 2)
      val out = EventStreams.drain(in.toDF(), "stream_heard", statePartitions = Some(2))(
        _.orderBy("value"))
      assert(out.as[Int].collect().toSeq === Seq(1, 2, 3))
      // drain returns after the clone's bus passed the last event on, so
      // nothing is still in flight
      val events = seen.toArray.toSeq
      assert(events.head === "started" && events.last === "terminated")
      assert(events.count(_ == "batch") >= 1)
    } finally spark.streams.removeListener(listener)
  }

  test("an unpinned drain records the session's shuffle partitions") {
    withConf("spark.sql.shuffle.partitions" -> "6") {
      // q100's shape: curation fingerprints of a documents file stream
      val schema = graft.Tables.read(spark, s"$sf0001/documents.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
        .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id % 300)"))
      val curated = DocStreams.curateStream(stream, minQuality = 0.2).select("fp")
      withCheckpoint { ckpt =>
        EventStreams.drain(curated, "stream_unpinned", checkpoint = Some(ckpt.toString))(
          identity)
        assert(recordedPartitions(ckpt) === "6")
      }
    }
  }
}
