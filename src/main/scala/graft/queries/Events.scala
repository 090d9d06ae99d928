package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.AsofJoin
import graft.streaming.EventStreams

/** Event-stream operator inventory (batch twins of the streaming layer):
  * windowed aggregation, sessionization, as-of join. DuckDB oracles use
  * native date_trunc / window / ASOF JOIN.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // the STREAMING stateful sessionizer under the driver's gate: a real
    // readStream over the events parquet through flatMapGroupsWithState
    // (custom per-user state, 30-min gap). A stream only emits CLOSED
    // sessions — each user's final session stays open when the source
    // drains — so the oracle replays the batch gap rule minus each user's
    // last session. The file source delivers the single parquet file in
    // one micro-batch, so within-batch event-time sorting makes the
    // output arrival-order-free; total_value is excluded from the gate
    // (stream accumulates in event order, DuckDB in its own — a double
    // sum is order-sensitive; session identity and µs boundaries are not).
    "q132_stream_sessionize" -> ((s, d) => {
      import s.implicits._
      val evts = EventStreams.eventsSource(s, d)
        .select("event_id", "user_id", "ts", "value").as[EventStreams.Evt]
      EventStreams.drain(EventStreams.sessionizeStateful(evts, gapSeconds = 1800)
          .select("user_id", "session_idx", "n_events", "start", "end"),
        "stream_sessionize", statePartitions = Some(4))(
        _.orderBy("user_id", "session_idx"))
    }),
    // WATERMARKED streaming tumbling-window aggregation in APPEND mode
    // under the driver gate: only windows the watermark has passed emit,
    // so the oracle keeps windows with end <= max(ts) (zero-delay
    // watermark; the data's max ts is never hour-aligned, checked at
    // every SF, so the eviction boundary is never ambiguous). The value
    // sum is integer-lifted per row (q101's round-then-lift) — a
    // streaming aggregate accumulates in arrival order, which a raw
    // double sum would expose.
    "q141_stream_windowed" -> ((s, d) => {
      val agg = EventStreams.eventsSource(s, d)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("sum_micros"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_micros"))
      EventStreams.drain(agg, "stream_windowed", statePartitions = Some(4))(
        _.orderBy("win_start", "event_type"))
    }),

    // hourly tumbling-window aggregate (streaming twin: EventStreams.windowedAgg
    // with watermark over readStream).
    "q70_events_hourly" -> ((s, d) => {
      EventStreams.windowedAgg(Tables(s, d).events, "1 hour")
        .orderBy("win_start", "event_type")
    }),

    // 30-minute-gap sessionization per user.
    "q71_sessionize" -> ((s, d) => {
      EventStreams.sessionize(Tables(s, d).events, gapSeconds = 1800)
        .select("event_id", "user_id", "session_idx")
        .orderBy("event_id")
    }),

    // JSON property extraction from the semi-structured props column —
    // get_json_object stays codegen'd; aggregated per event_type.
    "q73_json_props" -> ((s, d) => {
      Tables(s, d).events
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")
    }),

    // as-of join: each event picks the user's latest order at-or-before the
    // event time (left outer; -1 when none). Orders deduped to one per
    // (custkey, date) = max orderkey, for tie determinism on both sides.
    "q72_asof_join" -> ((s, d) => {
      val t = Tables(s, d)
      val dedupOrders = t.orders.groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      AsofJoin.asofJoin(
          t.events.select("event_id", "user_id", "ts"), dedupOrders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          valueCols = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_o_orderkey"), lit(-1L)).as("last_order"))
        .orderBy("event_id")
    }),

    // calendar decomposition + day bucketing of the event timeline (UTC
    // session) — the datetime expression surface.
    "q85_datetime" -> ((s, d) => {
      Tables(s, d).events.select(col("event_id"),
          year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"),
          date_trunc("day", col("ts")).as("day_start"))
        .orderBy("event_id")
    }),

    // Spark's NATIVE session-window aggregation (session_window merges
    // events while the gap to the latest stays within 30 min — INCLUSIVE:
    // diff == gap still merges, probed in EventStreamsSpec; same rule as
    // q71's lag formulation).
    // start/end are min/max event times aggregated directly, so the gate
    // does not depend on the window struct's internal [start, last+gap)
    // bounds.
    "q135_session_window" -> ((s, d) => {
      Tables(s, d).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("start"), max("ts").as("end"))
        .select(col("user_id"), col("n_events"), col("start"), col("end"))
        .orderBy("user_id", "start")
    }),

    // correlated LATERAL subquery in FROM (top-2 customers per nation by
    // balance): Catalyst decorrelates to a ranked window join; DuckDB runs
    // the same text natively.
    "q136_lateral" -> ((s, d) => {
      Tables(s, d).nation.createOrReplaceTempView("nation")
      Tables(s, d).customer.createOrReplaceTempView("customer")
      graft.api.EngineSession(s).sql(
        """SELECT n.n_name, t.c_name, t.c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_name, c_acctbal FROM customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin).df
    }),

    // weekly cohort retention: users grouped by first-event week, active
    // user counts per (cohort week, activity week) — the engagement
    // matrix. Two grouped passes joined on user_id; weeks via date_trunc.
    "q148_cohort_retention" -> ((s, d) => {
      val ev = Tables(s, d).events
      val cohort = ev.groupBy("user_id")
        .agg(date_trunc("week", min("ts")).as("cohort_week"))
      ev.select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
        .join(cohort, Seq("user_id"))
        .groupBy("cohort_week", "week")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_week", "week")
    }),

    // ordered funnel view -> click -> purchase within 24h: earliest
    // strictly-increasing chain per user (greedy-optimal for
    // reachability), steps reached, completion verdict.
    "q146_funnel" -> ((s, d) => {
      EventStreams.funnel(Tables(s, d).events,
          Seq("view", "click", "purchase"), withinSeconds = 86400L)
        .orderBy("user_id")
    }),

    // QUALIFY clause in SQL text (SqlRewriter → windowed-subquery rewrite):
    // top-3 events per type by value. DuckDB runs the identical text natively.
    "q92_qualify" -> ((s, d) => {
      Tables(s, d).events.createOrReplaceTempView("events")
      graft.api.EngineSession(s).sql(
        """SELECT event_id, event_type, value FROM events
          |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) <= 3
          |ORDER BY event_type, value DESC, event_id""".stripMargin).df
    }),

    // Z-order (Morton) key used by the layout writer: min/max-normalized
    // 16-bit ranks of (user_id, value), bit-interleaved — pure codegen'd
    // arithmetic, so the DuckDB oracle replays the identical shifts.
    "q98_zorder_key" -> ((s, d) => {
      val ev = Tables(s, d).events
      ev.select(col("event_id"),
          graft.operators.Layout.zValue(ev, Seq("user_id", "value"), bits = 16).as("z"))
        .orderBy("event_id")
    }),

    // ASOF JOIN in SQL text (SqlRewriter → AsofJoin operator) — the SQL-text
    // twin of q72, against DuckDB's native ASOF LEFT JOIN.
    "q93_asof_sql" -> ((s, d) => {
      val t = Tables(s, d)
      t.events.select("event_id", "user_id", "ts").createOrReplaceTempView("ev_asof")
      t.orders.groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey")).createOrReplaceTempView("ord_asof")
      graft.api.EngineSession(s).sql(
        """SELECT event_id, user_id, coalesce(asof_o_orderkey, -1) AS last_order
          |FROM ev_asof e ASOF JOIN ord_asof o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
          |ORDER BY event_id""".stripMargin).df
    }),

    // trailing 1-hour RANGE-frame rolling aggregates per user (event-time
    // interval frame, peers-by-timestamp included — SQL-standard on both
    // engines). The value sum is integer-lifted per row so in-frame
    // accumulation order cannot show.
    "q153_rolling_1h" -> ((s, d) => {
      val ev = Tables(s, d).events
        .withColumn("v_micros", round(round(col("value"), 6) * 1e6, 0).cast("long"))
      graft.operators.TimeSeries.rollingRange(ev, "user_id", "ts", "1 HOUR",
          Seq("n_1h" -> "count(*)", "sum_micros_1h" -> "sum(v_micros)"))
        .select("event_id", "user_id", "n_1h", "sum_micros_1h")
        .orderBy("event_id")
    }),

    // hourly gap-filled LOCF grid per user: each user's hour buckets from
    // first to last event, latest in-bucket value (ties broken by event_id)
    // carried across empty buckets. Value rounded to 6 dp BEFORE the carry
    // — no sums anywhere, so nothing is order-sensitive.
    "q154_gap_fill_locf" -> ((s, d) => {
      graft.operators.TimeSeries.gapFillLocf(Tables(s, d).events,
          "user_id", "ts", round(col("value"), 6), "event_id", unit = "hour")
        .orderBy("user_id", "bucket")
    }),

    // last-touch attribution: each purchase attaches the user's latest
    // preceding click, but only within a 1-hour window (as-of join with
    // tolerance, pandas merge_asof semantics — no fallback past the
    // window). Clicks deduped per (user, ts) for tie determinism.
    "q159_attribution" -> ((s, d) => {
      val ev = Tables(s, d).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      AsofJoin.asofJoin(purchases, clicks, "user_id", "user_id", "ts", "ts",
          valueCols = Seq("click_id"), toleranceSeconds = Some(3600L))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_click_id"), lit(-1L)).as("click_id"))
        .orderBy("event_id")
    }),

    // nested-data surface: JSON → typed struct (schema'd from_json, not
    // per-path string extraction) and struct → JSON re-serialization
    // (compact, field order = struct order on both engines).
    "q176_nested_json" -> ((s, d) => {
      Tables(s, d).events
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").cast("long").as("k"),
          to_json(struct(col("event_id"), col("event_type"))).as("as_json"))
        .orderBy("event_id")
    }),

    // keyless interval-containment join via time bucketing (RangeJoin):
    // every event falling inside any of user 1's session windows — a raw
    // BETWEEN join would plan as a nested loop; bucketing makes it a hash
    // equi-join on the hour bucket with an exact post-filter.
    "q160_interval_join" -> ((s, d) => {
      val ev = Tables(s, d).events
      val windows = EventStreams
        .sessionize(ev.filter(col("user_id") === 1), gapSeconds = 1800)
        .groupBy("session_idx")
        .agg(min("ts").as("win_start"), max("ts").as("win_end"))
      graft.operators.RangeJoin.intervalJoin(
          ev.select("event_id", "ts"), "ts",
          windows.select(col("session_idx").as("win_idx"),
            col("win_start"), col("win_end")),
          "win_start", "win_end", bucketWidthSeconds = 3600L)
        .select(col("event_id"), col("win_idx"))
        .orderBy("event_id", "win_idx")
    }),

    // streaming windowed distinct-count via the PORTABLE register HLL —
    // ONE stateful aggregation (per-register maxes ARE the sketch union),
    // append-mode under the q141 zero-delay watermark rule; the oracle
    // replays the ESTIMATES bit-for-bit, not just an error bound.
    "q210_stream_distinct_hll" -> ((s, d) => {
      val stream = EventStreams.eventsSource(s, d)
      // the array Aggregator, measured 1.46× faster than the column form
      // even at this gate's p = 6 (README.md); the committed column-form
      // oracle stays green because the two encodings are bit-identical at
      // p = 6 (spec-asserted).
      // mapWidth: the single-file source scans as ONE partition, so the
      // md5/register map (the micro-batch's hot 1.8 s, r18 attribution)
      // would serialize on one core; spread it (see Tables.streamSpreadWidth)
      val agg = EventStreams.windowedDistinctHllArray(stream, "user_id",
        "1 hour", watermark = Some("0 seconds"), p = 6,
        mapWidth = graft.Tables.streamSpreadWidth(s))
      // explicit checkpoint on the tmpfs-preferring root (the q215
      // rationale: the implicit temp checkpoint measures the box's /tmp
      // disk, not the stream)
      GateTmp.within("graft_ckpt_hll") { ckpt =>
        EventStreams.drain(agg, "stream_hll", statePartitions = Some(4),
          checkpoint = Some(ckpt.toString))(_.orderBy("win_start"))
      }
    }),

    // the register HLL past the column-encoding ceiling: p = 10 (1024
    // registers) in ONE array-typed streaming aggregate (element-wise max
    // = sketch union; graft.functions.HllRegisters), standard m-dependent
    // α, estimates engine-replayed bit-for-bit like q210 — the oracle
    // replays all 1024 registers and the array-ordered Σ2^-M fold.
    "q211_stream_hll_p10" -> ((s, d) => {
      val stream = EventStreams.eventsSource(s, d)
      // mapWidth: see q210 — same single-partition source, same hot map
      val agg = EventStreams.windowedDistinctHllArray(stream, "user_id",
        "1 hour", watermark = Some("0 seconds"), p = 10,
        mapWidth = graft.Tables.streamSpreadWidth(s))
      // explicit checkpoint on the tmpfs-preferring root (the q215
      // rationale: the implicit temp checkpoint measures the box's /tmp
      // disk, not the stream)
      GateTmp.within("graft_ckpt_hll") { ckpt =>
        EventStreams.drain(agg, "stream_hllp10", statePartitions = Some(4),
          checkpoint = Some(ckpt.toString))(_.orderBy("win_start"))
      }
    }),

    // STREAM-STREAM interval join (one readStream filtered into two sides,
    // symmetric hash join with watermark-bounded state): every click paired with
    // the same user's views within ±30 min. Inner matches emit in the
    // micro-batch that completes them — no emission-rule filter in the
    // oracle, the full pair set appears. The time-range predicate is what
    // lets the state store EVICT (rows past watermark+tolerance can never
    // match) — the piece a 100 TB-per-day dual-stream correlation needs.
    "q212_stream_interval_join" -> ((s, d) => {
      // ONE shared source (r19, the q215 shape): both sides filter the
      // same rows post-source, so a streaming self-join over one source
      // replaces two independent sources — halving per-micro-batch file
      // listing/offset tracking. Rows, watermarks and emitted pairs are
      // unchanged (oracle-verified).
      val src = EventStreams.eventsSource(s, d)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = src.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val joined = EventStreams.intervalJoin(clicks, views, "user_id",
          toleranceSeconds = 1800, watermark = "0 seconds")
        .select(col("event_id").as("click_id"),
          col("event_id_r").as("view_id"), col("user_id"),
          col("ts").as("click_ts"), col("ts_r").as("view_ts"))
      // a stream-stream join spins up FOUR state stores per partition —
      // 32×4 HDFS-backed stores is pure per-micro-batch overhead at gate
      // scale. A production deployment sizes this to state volume, not
      // compute parallelism.
      EventStreams.drain(joined, "stream_ivj", statePartitions = Some(4))(
        _.orderBy("click_id", "view_id"))
    }),

    // stream-static enrichment: each event decorated from the customer
    // dimension (re-read per micro-batch, broadcast under the size
    // threshold — the slowly-changing-dimension shape). Stateless, so no
    // watermark and every row emits.
    "q213_stream_enrich" -> ((s, d) => {
      val stream = EventStreams.eventsSource(s, d)
        .select("event_id", "user_id", "value")
      val dim = graft.Tables(s, d).customer
        .select(col("c_custkey").as("user_id"), col("c_name"),
          col("c_mktsegment"))
      EventStreams.drain(EventStreams.enrich(stream, dim, Seq("user_id")),
        "stream_enrich")(_.orderBy("event_id"))
    }),

    // stream-stream LEFT OUTER interval join — the semantics q212's inner
    // join doesn't cover: a click with no view inside ±30 min emits its
    // null-padded row only once the watermark PROVES the window empty
    // (state-eviction time), never early. The file source's real rows
    // alone would leave tail clicks unproven forever, so a second micro-
    // batch delivers one far-future sentinel click+view for a ghost user
    // (each side's watermark is computed post-filter, so each side needs
    // one), pushing both watermarks past every real match window — after
    // which the emitted set equals the batch LEFT JOIN, which is the
    // oracle. Sentinel rows are filtered out of the output by user_id.
    "q215_stream_outer_interval" -> ((s, d) => {
      GateTmp.within("graft_oivj") { root =>
        // the corpus streams straight from the test data (no temp-dir
        // copy — at sf0.1 that copy was a full extra write+read of the
        // table, and temp-dir I/O is exactly what made q214's driver
        // measurement irreproducible); the SENTINELS are appended beside
        // it and flow through the same source before the watermark, so
        // they advance it like any other row
        val schema = graft.Tables.read(s, s"$d/events.parquet").schema
        val ev = graft.Tables(s, d).events
          .select("event_id", "user_id", "ts", "event_type")
        // SOURCE SHAPE (r19, VERDICT r18 #3): the r11–r18 form built FOUR
        // file-stream sources (per side: the events glob + the sentinel
        // dir, unioned) — and the gate's attribution showed ~2 s of its
        // 2.8 s floor was stream apparatus (per-source per-micro-batch
        // listing/offset tracking + stream-start planning), not the join.
        // One INGEST DIR serves data and sentinels instead: `$root/in`
        // holds a symlink to the events file (zero-copy — the r18 q214
        // lesson: a corpus copy is a full extra write+read) and receives
        // the sentinel files, so one file-stream source per side covers
        // both — and since both sides filter the same rows post-source,
        // ONE shared source serves both (a streaming self-join; Spark
        // tracks the shared source once). Sentinel files are written in
        // the EVENTS schema encoding (ts matched to the observed dtype;
        // absent columns read as nulls) so the one schema fits both file
        // families. Per-side watermarks are applied post-filter inside
        // intervalJoin exactly as before — row set, watermark semantics
        // and emitted output are unchanged (oracle-verified at every
        // shipped SF).
        val inDir = s"$root/in"
        new java.io.File(inDir).mkdirs()
        val link = java.nio.file.Paths.get(s"$inDir/events.parquet")
        val target = java.nio.file.Paths.get(s"$d/events.parquet")
        try java.nio.file.Files.createSymbolicLink(link, target)
        catch { case _: UnsupportedOperationException |
                     _: java.io.IOException =>
          // filesystems without symlinks fall back to a copy — apparatus
          // correctness over apparatus speed
          java.nio.file.Files.copy(target, link): Unit
        }
        val src = graft.Tables.adaptEventTs(
            s.readStream.schema(schema).parquet(inDir))
          .select("event_id", "user_id", "ts", "event_type")
        def side(tpe: String) =
          src.filter(col("event_type") === tpe).drop("event_type")
        // NO sentinel filter inside the streaming plan: a filter that
        // excludes the ghost user is pushed below the watermark operator,
        // so the sentinel rows never reach it and the watermark FREEZES at
        // the real max ts — no null row ever emits (caught at sf0.001).
        // Sentinels flow through the join and are dropped batch-side when
        // the memory sink is read.
        val joined = EventStreams.intervalJoin(side("click"), side("view"),
            "user_id", toleranceSeconds = 1800, watermark = "0 seconds",
            joinType = "left_outer")
          .select(col("event_id").as("click_id"),
            col("event_id_r").as("view_id"), col("user_id"),
            col("ts").as("click_ts"), col("ts_r").as("view_ts"))
        def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
          q.processAllAvailable()
          val mx = ev.agg(max("ts")).collect()(0).getTimestamp(0) // one row
          import s.implicits._
          def writeSentinel(h: Long): Unit = {
            val far = new java.sql.Timestamp(mx.getTime + h * 3600 * 1000)
            val base = Seq((-2 * h, -1L, far, "click"), (-2 * h - 1, -1L, far, "view"))
              .toDF("event_id", "user_id", "ts", "event_type")
            // the ingest dir reads sentinels through the EVENTS schema:
            // match the observed ts encoding (the nanos-as-long testdata
            // generation stores LongType — write epoch nanos; adaptEventTs
            // round-trips them exactly). Absent columns (value, props)
            // read back as nulls; the 4-column projection drops them.
            val enc =
              if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
                base.withColumn("ts", unix_micros(col("ts")) * 1000L)
              else base
            enc.write.mode("append").parquet(inDir)
            q.processAllAvailable()
          }
          // ONE sentinel micro-batch advances the watermark past every real
          // match window; the evictions (null rows) emit in the NEXT batch
          // — which the engine schedules itself as a no-data micro-batch
          // (spark.sql.streaming.noDataMicroBatches, default on), so the
          // r11 second sentinel write was paying a full extra data batch
          // for it (A/B: 5.0 → 4.6 s warm at sf0.1). processAllAvailable
          // does not await no-data batches, so await its COMMIT by batch
          // id: any batch after the sentinel's data batch is it. Bounded;
          // falls back to the second sentinel (the r11 shape) if the
          // engine never fires one (noDataMicroBatches disabled).
          writeSentinel(48)
          def maxDataBatch = q.recentProgress.filter(_.numInputRows > 0)
            .map(_.batchId).foldLeft(-1L)(math.max)
          val bSent = maxDataBatch
          def evictionBatchRan = q.recentProgress.exists(_.batchId > bSent)
          val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
          while (!evictionBatchRan && System.nanoTime() < deadline) {
            Thread.sleep(25)
            q.processAllAvailable()
          }
          if (!evictionBatchRan) writeSentinel(96)
        }
        // explicit checkpoint on the gate's (tmpfs-preferring) root: the
        // memory sink's implicit temp checkpoint lands on java.io.tmpdir,
        // which on a contended-disk box measures the disk, not the join
        EventStreams.drain(joined, "stream_oivj", statePartitions = Some(4),
            checkpoint = Some(s"$root/ckpt"), run = run)(
          _.filter(col("user_id") >= 0).orderBy("click_id", "view_id"))
      }
    })
  )

  val oracle: Map[String, String] = Map(
    "q132_stream_sessionize" ->
      // q71's gap rule aggregated to session rows, minus each user's last
      // (never-closed) session
      """WITH x AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR epoch_ns(ts) - epoch_ns(prev_ts) > CAST(1800 AS BIGINT) * 1000000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM x),
        |g AS (SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |    min(ts) AS start, max(ts) AS "end" FROM s GROUP BY 1, 2),
        |m AS (SELECT user_id, max(session_idx) AS last_idx FROM g GROUP BY 1)
        |SELECT g.user_id, g.session_idx, g.n_events, g.start, g."end"
        |FROM g JOIN m ON m.user_id = g.user_id
        |WHERE g.session_idx <> m.last_idx
        |ORDER BY g.user_id, g.session_idx""".stripMargin,
    "q148_cohort_retention" ->
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
        |SELECT c.cohort_week, a.week, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM a JOIN c ON c.user_id = a.user_id
        |GROUP BY c.cohort_week, a.week
        |ORDER BY c.cohort_week, a.week""".stripMargin,
    "q146_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |    min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click'
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |    min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS steps_completed,
        |  (t3 IS NOT NULL
        |   AND epoch_us(t3) - epoch_us(t1) <= CAST(86400 AS BIGINT) * 1000000) AS completed
        |FROM s3 ORDER BY user_id""".stripMargin,
    "q135_session_window" ->
      // inclusive gap rule (probed: Spark merges at diff == gap): a new
      // session opens only at diff > gap
      """WITH x AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(CASE WHEN prev IS NULL
        |        OR epoch_us(ts) - epoch_us(prev) > CAST(1800 AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS start, max(ts) AS "end"
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start""".stripMargin,
    "q136_lateral" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin,
    "q141_stream_windowed" ->
      // append-mode emission: a window [h, h+1h) finalizes once the
      // zero-delay watermark (= max event time) passes its end
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |a AS (SELECT date_trunc('hour', ts) AS win_start, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(round(value, 6) * 1e6, 0) AS BIGINT)) AS BIGINT) AS sum_micros
        |  FROM events GROUP BY 1, 2)
        |SELECT a.win_start, a.event_type, a.n, a.sum_micros
        |FROM a CROSS JOIN m WHERE a.win_start + INTERVAL 1 HOUR <= m.mx
        |ORDER BY a.win_start, a.event_type""".stripMargin,
    "q70_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q71_sessionize" ->
      """SELECT event_id, user_id,
        | CAST(sum(CASE WHEN prev_ts IS NULL
        |          OR epoch_ns(ts) - epoch_ns(prev_ts) > CAST(1800 AS BIGINT) * 1000000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |FROM (SELECT event_id, user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |ORDER BY event_id""".stripMargin,
    "q73_json_props" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q72_asof_join" ->
      """WITH d AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, coalesce(d.o_orderkey, -1) AS last_order
        |FROM events e ASOF LEFT JOIN d
        |  ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q85_datetime" ->
      """SELECT event_id,
        | CAST(date_part('year', ts) AS INT) AS y,
        | CAST(date_part('month', ts) AS INT) AS m,
        | CAST(date_part('day', ts) AS INT) AS d,
        | CAST(date_part('hour', ts) AS INT) AS h,
        | date_trunc('day', ts) AS day_start
        |FROM events ORDER BY event_id""".stripMargin,
    "q92_qualify" ->
      """SELECT event_id, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) <= 3
        |ORDER BY event_type, value DESC, event_id""".stripMargin,
    "q93_asof_sql" ->
      """WITH d AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, coalesce(d.o_orderkey, -1) AS last_order
        |FROM events e ASOF LEFT JOIN d
        |  ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q98_zorder_key" -> {
      // replays Layout.zValue exactly: per-column double min/max, 16-bit
      // floor-normalized ranks (nulls -> 0, degenerate span -> 1.0), then
      // bit b of column ci lands at position b*2 + ci
      val bits = 16
      val maxRank = (1L << bits) - 1
      def rank(c: String, i: Int): String =
        s"""coalesce(CAST(floor((CAST($c AS DOUBLE) - mn$i)
           |  / (CASE WHEN mx$i > mn$i THEN mx$i - mn$i ELSE 1.0 END) * $maxRank) AS BIGINT), 0)""".stripMargin
      val interleave = (for {
        b <- 0 until bits
        ci <- 0 until 2
      } yield s"(((r$ci >> $b) & 1) << ${b * 2 + ci})").mkString(" | ")
      s"""WITH bounds AS (SELECT
         |  min(CAST(user_id AS DOUBLE)) AS mn0, max(CAST(user_id AS DOUBLE)) AS mx0,
         |  min(CAST(value AS DOUBLE)) AS mn1, max(CAST(value AS DOUBLE)) AS mx1 FROM events),
         |r AS (SELECT event_id, ${rank("user_id", 0)} AS r0, ${rank("value", 1)} AS r1
         |  FROM events, bounds)
         |SELECT event_id, $interleave AS z FROM r ORDER BY event_id""".stripMargin
    },
    "q153_rolling_1h" ->
      // outer CAST: DuckDB's windowed sum(BIGINT) widens to HUGEINT (the
      // q112 driver-hash hazard)
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(round(round(value, 6) * 1e6, 0) AS BIGINT)) OVER w
        |       AS BIGINT) AS sum_micros_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q154_gap_fill_locf" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', min(ts)) AS b0,
        |    date_trunc('hour', max(ts)) AS b1 FROM events GROUP BY 1),
        |g AS (SELECT user_id,
        |    unnest(generate_series(b0, b1, INTERVAL '1 hour')) AS bucket FROM b),
        |hv AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    round(value, 6) AS v,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events),
        |hl AS (SELECT user_id, bucket, v FROM hv WHERE rn = 1)
        |SELECT g.user_id, g.bucket,
        |  last_value(hl.v IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_locf
        |FROM g LEFT JOIN hl ON hl.user_id = g.user_id AND hl.bucket = g.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,
    "q176_nested_json" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  to_json(struct_pack(event_id := event_id,
        |    event_type := event_type)) AS as_json
        |FROM events ORDER BY event_id""".stripMargin,
    "q159_attribution" ->
      // DuckDB's native ASOF picks the latest preceding click; the CASE
      // replays the tolerance gate in exact integer nanoseconds
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |    WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  CASE WHEN c.click_id IS NULL
        |      OR epoch_ns(p.ts) - epoch_ns(c.ts)
        |         > CAST(3600 AS BIGINT) * 1000000000
        |    THEN -1 ELSE c.click_id END AS click_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q160_interval_join" ->
      // q71's session rule for user 1 aggregated to [min ts, max ts]
      // windows, then a plain inequality join (fine at oracle scale)
      """WITH u AS (SELECT event_id, ts,
        |    lag(ts) OVER (ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE user_id = 1),
        |s AS (SELECT ts,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR epoch_ns(ts) - epoch_ns(prev_ts)
        |           > CAST(1800 AS BIGINT) * 1000000000 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS win_idx
        |  FROM u),
        |w AS (SELECT win_idx, min(ts) AS ws, max(ts) AS we FROM s GROUP BY 1)
        |SELECT e.event_id, w.win_idx
        |FROM events e JOIN w ON e.ts >= w.ws AND e.ts <= w.we
        |ORDER BY e.event_id, w.win_idx""".stripMargin,
    "q210_stream_distinct_hll" ->
      // identical register HLL: reg = md5-high-32 mod 64, rank = trailing
      // zeros of md5-low-32 + 1 (monotone divisibility count), per-window
      // per-register maxes over an explicit 64-register grid, Σ2^-M as
      // exact dyadic divisions, ln 6-dp rounded (the q194 rule), q141's
      // zero-delay append emission (window end <= max ts)
      """WITH mts AS (SELECT max(ts) AS mx FROM events),
        |e AS (SELECT date_trunc('hour', ts) AS win_start,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |hh AS (SELECT win_start,
        |    CAST(CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 64 AS INT) AS reg,
        |    CAST(concat('0x', substr(h, 9, 8)) AS BIGINT) AS h2
        |  FROM e),
        |r AS (SELECT win_start, reg,
        |    CAST(len(list_filter(range(1, 33),
        |      j -> h2 % (1::BIGINT << j) = 0)) + 1 AS INT) AS rnk
        |  FROM hh),
        |mreg AS (SELECT win_start, reg, max(rnk) AS mr FROM r GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT win_start FROM r),
        |fl AS (SELECT g.win_start, CAST(u.j AS INT) AS reg,
        |    coalesce(m.mr, 0) AS mr
        |  FROM grid g CROSS JOIN unnest(range(0, 64)) AS u(j)
        |  LEFT JOIN mreg m ON m.win_start = g.win_start AND m.reg = u.j),
        |est AS (SELECT win_start,
        |    sum(1.0 / (1::BIGINT << mr)) AS s,
        |    CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
        |  FROM fl GROUP BY win_start),
        |ne AS (SELECT win_start, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1)
        |SELECT est.win_start, ne.n_events,
        |  CASE WHEN (0.709 * 64 * 64) / s <= 2.5 * 64 AND zeros > 0
        |    THEN round(64.0 * round(ln(64.0 / zeros), 6), 4)
        |    ELSE round((0.709 * 64 * 64) / s, 4) END AS est_distinct
        |FROM est JOIN ne USING (win_start) CROSS JOIN mts
        |WHERE est.win_start + INTERVAL 1 HOUR <= mts.mx
        |ORDER BY est.win_start""".stripMargin,
    "q211_stream_hll_p10" ->
      // the q210 replay at m = 1024 with the standard α written as the
      // SAME double expression the engine computes (0.7213/(1+1.079/m) —
      // identical IEEE ops, so the 4-dp rounding cannot straddle); the
      // engine's Σ2^-M folds the register array in index order, which the
      // grid-ordered sum here reproduces
      """WITH mts AS (SELECT max(ts) AS mx FROM events),
        |e AS (SELECT date_trunc('hour', ts) AS win_start,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |hh AS (SELECT win_start,
        |    CAST(CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 1024 AS INT) AS reg,
        |    CAST(concat('0x', substr(h, 9, 8)) AS BIGINT) AS h2
        |  FROM e),
        |r AS (SELECT win_start, reg,
        |    CAST(len(list_filter(range(1, 33),
        |      j -> h2 % (1::BIGINT << j) = 0)) + 1 AS INT) AS rnk
        |  FROM hh),
        |mreg AS (SELECT win_start, reg, max(rnk) AS mr FROM r GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT win_start FROM r),
        |fl AS (SELECT g.win_start, CAST(u.j AS INT) AS reg,
        |    coalesce(m.mr, 0) AS mr
        |  FROM grid g CROSS JOIN unnest(range(0, 1024)) AS u(j)
        |  LEFT JOIN mreg m ON m.win_start = g.win_start AND m.reg = u.j),
        |est AS (SELECT win_start,
        |    sum(1.0 / (1::BIGINT << mr)) AS s,
        |    CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
        |  FROM fl GROUP BY win_start),
        |ne AS (SELECT win_start, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1)
        |SELECT est.win_start, ne.n_events,
        |  CASE WHEN ((0.7213::DOUBLE / (1 + 1.079::DOUBLE / 1024)) * 1024 * 1024) / s <= 2.5 * 1024 AND zeros > 0
        |    THEN round(1024.0 * round(ln(1024.0 / zeros), 6), 4)
        |    ELSE round(((0.7213::DOUBLE / (1 + 1.079::DOUBLE / 1024)) * 1024 * 1024) / s, 4) END AS est_distinct
        |FROM est JOIN ne USING (win_start) CROSS JOIN mts
        |WHERE est.win_start + INTERVAL 1 HOUR <= mts.mx
        |ORDER BY est.win_start""".stripMargin,
    "q212_stream_interval_join" ->
      """SELECT l.event_id AS click_id, r.event_id AS view_id,
        |  l.user_id, l.ts AS click_ts, r.ts AS view_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'view'
        | AND r.ts BETWEEN l.ts - INTERVAL 1800 SECOND
        |               AND l.ts + INTERVAL 1800 SECOND
        |ORDER BY click_id, view_id""".stripMargin,
    "q213_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "q215_stream_outer_interval" ->
      """SELECT l.event_id AS click_id, r.event_id AS view_id,
        |  l.user_id, l.ts AS click_ts, r.ts AS view_ts
        |FROM events l LEFT JOIN events r
        |  ON l.user_id = r.user_id AND r.event_type = 'view'
        | AND r.ts BETWEEN l.ts - INTERVAL 1800 SECOND
        |               AND l.ts + INTERVAL 1800 SECOND
        |WHERE l.event_type = 'click'
        |ORDER BY click_id, view_id""".stripMargin
  )
}
