package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props). The reference has no
  * streaming at all (SURVEY §1.1) — this is the beyond-parity layer a
  * training-data pipeline needs. Batch twins of each transform are exposed so
  * the correctness gate (DuckDB) can check the exact same logic the streaming
  * query runs.
  */
object EventStreams {

  /** The events table under `d` as a file stream: the sf directory,
    * glob-filtered to `events.parquet` (the file source wants a
    * directory), read with the batch table's schema and its `ts`
    * normalized by [[graft.Tables.adaptEventTs]].
    */
  def eventsSource(s: SparkSession, d: String): DataFrame =
    graft.Tables.adaptEventTs(
      s.readStream.schema(graft.Tables.read(s, s"$d/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger

  /** Runs `stream` into a memory sink and returns what it wrote, pinned.
    * The query appends into the sink `<prefix>_<n>` (unique per call),
    * checkpointing under `checkpoint` when given; `run` drives it
    * (default: everything available now); the query stops; `readBack`
    * shapes the sink's table, which a local checkpoint pins. The query
    * stops and the sink's temp view is dropped however `run` ends, so a
    * failed stream leaves nothing registered and repeated passes pin no
    * earlier pass's rows.
    *
    * `statePartitions` fixes the query's state partitioning, which Spark
    * takes from `spark.sql.shuffle.partitions` once, at the query's first
    * start, and records in its checkpoint. The stream runs on a clone of
    * its session that has that value, so the session itself and every
    * other query on it keep theirs. It sizes state stores to state volume
    * instead of compute parallelism: a stream-stream join spins up four
    * stores per partition, and at small state sizes the per-micro-batch
    * commit of partitions × stores dominates. Not a universal win: a
    * single-store query whose state traffic already commits in parallel
    * across cores can get slower on fewer stores (q100 measured 35%
    * slower at 8); measure per query.
    *
    * Spark reports a stream's events only to the listeners of the session
    * that started it, so the clone takes on the calling session's
    * streaming listeners: they see a pinned stream's progress as they see
    * any other. The clone's listener bus is released once it has passed on
    * the query's terminated event, which follows all its progress events.
    */
  def drain(stream: DataFrame, prefix: String, statePartitions: Option[Int] = None,
      checkpoint: Option[String] = None,
      run: StreamingQuery => Unit = _.processAllAvailable())(
      readBack: DataFrame => DataFrame): DataFrame = {
    val df = statePartitions.fold(stream)(n =>
      GraftSqlBridge.onClone(stream, "spark.sql.shuffle.partitions" -> n.toString))
    val pinned = df.sparkSession ne stream.sparkSession
    val ended = new CountDownLatch(1)
    if (pinned) {
      stream.sparkSession.streams.listListeners().foreach(df.sparkSession.streams.addListener)
      df.sparkSession.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          ended.countDown()
      })
    }
    val name = s"${prefix}_${sinkCounter.incrementAndGet()}"
    try {
      val w = df.writeStream.outputMode("append").format("memory").queryName(name)
      val q = checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
      try run(q) finally {
        q.stop()
        if (pinned) ended.await(30, TimeUnit.SECONDS)
      }
      // the sink's view lives on the session that started the query; the
      // rows are read back on the caller's
      readBack(GraftSqlBridge.ofRows(stream.sparkSession,
        GraftSqlBridge.logicalPlan(df.sparkSession.table(name)))).localCheckpoint(true)
    } finally {
      df.sparkSession.catalog.dropTempView(name)
      if (pinned) GraftSqlBridge.releaseStreamListener(df.sparkSession)
    }
  }

  /** Streaming reader over a parquet directory with the events schema. */
  def readEventStream(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Tumbling-window counts + sums per event_type. Works identically on a
    * batch or streaming DataFrame; in streaming, pair with
    * `withWatermark("ts", ...)` (applied only when the source is streaming).
    */
  def windowedAgg(events: DataFrame, windowLength: String, watermark: Option[String] = None): DataFrame = {
    val src = watermark.filter(_ => events.isStreaming) match {
      case Some(w) => events.withWatermark("ts", w)
      case None    => events
    }
    src.groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))
  }

  /** Approximate distinct keys per tumbling window via a PORTABLE register
    * HyperLogLog — the unbounded-stream cardinality question ("distinct
    * users per hour, forever") that an exact streaming count-distinct
    * cannot answer: its state grows with the true key set, while this holds
    * exactly 2^p small integers per open window.
    *
    * The whole sketch is ONE streaming aggregation: each event maps
    * statelessly to (register, rank) — register = md5-high bits mod m,
    * rank = trailing zeros of the md5-low 32 bits + 1 — and the window
    * group aggregates m per-register MAXes (max is the HLL merge, so
    * map-side partial aggregation IS sketch union; no custom state store,
    * no second stateful operator). The estimate is a stateless projection:
    * α·m²/Σ2^−Mⱼ with the standard small-range linear-counting correction.
    *
    * Engine-replayable end to end, unlike the DataSketches surface
    * ([[graft.operators.Sketches.hllSketchPerGroup]], envelope-gated):
    * md5-derived integer registers, 2^−M as exact dyadic divisions (never
    * `pow`), the one `ln` in the small-range branch 6-dp rounded (the
    * q194 rule) — so the driver gate hash-matches the ESTIMATES, not just
    * an error bound.
    *
    * Precision bound: the column-per-register encoding creates 2^p max
    * aggregates, so the plan (and its generated code / constant pool)
    * grows with m — measured fine through p = 8 (256 aggregates,
    * ±~6.5% standard error); p = 12 would be a 4096-aggregate projection
    * that stresses codegen well before state size matters. The require
    * pins the PRACTICAL ceiling; above it the right encoding is a
    * map-typed register state (one aggregate over a m-slot map), which
    * trades the hash-replayable column form this gate depends on.
    *
    * @return (win_start, n_events, est_distinct), append-mode emission
    *         under the caller's watermark when `events.isStreaming`.
    */
  def windowedDistinctHll(events: DataFrame, keyCol: String,
      windowLength: String, watermark: Option[String] = None,
      p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 8,
      s"p must be in [2, 8], got $p — the column-per-register encoding " +
        "generates 2^p max aggregates; past 256 the generated aggregate " +
        "class outgrows codegen (use windowedDistinctHllArray for p > 8)")
    val m = 1 << p
    val invPows = lit((0 to 33).map(j => 1.0 / (1L << j)).toArray) // 2^-M
    val keyed = hllKeyed(events, keyCol, windowLength, watermark, m)
    val maxes = (0 until m).map(j =>
      max(when(col("__reg") === j, col("__rank"))).as(s"__m_$j"))
    val agg = keyed.groupBy(col("window"))
      .agg(count(lit(1)).as("n_events"), maxes: _*)
    val regs = (0 until m).map(j => coalesce(col(s"__m_$j"), lit(0)))
    val s = regs.map(r => element_at(invPows, r + 1)).reduce(_ + _)
    val zeros = regs.map(r => when(r === 0, 1).otherwise(0)).reduce(_ + _)
    // α pinned at the p = 6 constant for every p this path allows — the
    // committed q210 oracle replays it; the array path below uses the
    // standard m-dependent α (they coincide exactly at p = 6)
    val raw = lit(0.709 * m * m) / s
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
      round(lit(m.toDouble) * round(log(lit(m.toDouble) / zeros), 6), 4))
      .otherwise(round(raw, 4))
    agg.select(col("window.start").as("win_start"), col("n_events"),
      est.as("est_distinct"))
  }

  /** (window, __reg, __rank) — the stateless per-event register map both
    * HLL encodings share: register = md5-high-32 mod m, rank = trailing
    * zeros of md5-low-32 + 1.
    */
  private def hllKeyed(events: DataFrame, keyCol: String,
      windowLength: String, watermark: Option[String], m: Int,
      mapWidth: Option[Int] = None): DataFrame = {
    val src0 = watermark.filter(_ => events.isStreaming) match {
      case Some(w) => events.withWatermark("ts", w)
      case None    => events
    }
    // the per-event register map (md5 + base conversion + rank scan) is the
    // sketch's hot loop and runs WHERE THE SOURCE IS PARTITIONED — a
    // single-file stream serializes it onto one core (r18 attribution:
    // 1.8 s of a 2.6 s micro-batch in that one task). mapWidth spreads the
    // map across the cluster first, shuffling only (window, key) — project
    // BEFORE the exchange, guide §2.3. Row placement cannot affect the
    // result: registers are per-row values merged by max. See
    // [[graft.Tables.streamSpreadWidth]] for when to pass it.
    val keyed = src0.select(window(col("ts"), windowLength).as("window"),
      col(keyCol).cast("string").as("__k"))
    val src = mapWidth.filter(_ > 1).map(keyed.repartition(_)).getOrElse(keyed)
    val pows = lit((1 to 32).map(1L << _).toArray) // 2^j for the rank scan
    src
      .select(col("window"), md5(col("__k")).as("__md5"))
      .withColumn("__h2",
        conv(substring(col("__md5"), 9, 8), 16, 10).cast("long"))
      .select(col("window"),
        pmod(conv(substring(col("__md5"), 1, 8), 16, 10).cast("long"), lit(m))
          .cast("int").as("__reg"),
        (size(filter(pows, pw => pmod(col("__h2"), pw) === 0)) + 1)
          .as("__rank"))
  }

  /** [[windowedDistinctHll]] past the column-encoding ceiling: the m
    * registers live in ONE array-typed aggregate
    * ([[graft.functions.HllRegisters]] — element-wise max IS sketch
    * union, so map-side partials and streaming state merges union
    * exactly like the column form), and the estimate is an array fold.
    * The plan no longer grows with p, so precision is bounded by state
    * size (m ints per open window), not codegen: p up to 14 (±~0.8%
    * standard error, 64 KiB of state per window).
    *
    * Two deliberate deltas from the column path, both engine-replayable:
    *   - α is the standard m-dependent constant (0.673/0.697/0.709 at
    *     m = 16/32/64, 0.7213/(1 + 1.079/m) above — the column path pins
    *     the p = 6 value for its committed oracle; the two coincide
    *     exactly at p = 6, spec-asserted);
    *   - Σ2^−M folds the register array IN ORDER (a fixed order, so the
    *     double sum is deterministic — same contract, different shape).
    *
    * The streaming gates use this form at every p: the column form runs
    * all 2^p conditional maxes per row where this one updates one slot,
    * and measured 1.46× slower at p = 6 and 2.34× at p = 8 (README.md).
    */
  def windowedDistinctHllArray(events: DataFrame, keyCol: String,
      windowLength: String, watermark: Option[String] = None,
      p: Int = 10, mapWidth: Option[Int] = None): DataFrame = {
    require(p >= 2 && p <= 14,
      s"p must be in [2, 14], got $p — state is 2^p ints per open window " +
        "(64 KiB at 14); past that the register array stops being a " +
        "sensible streaming state row")
    val m = 1 << p
    val invPows = lit((0 to 33).map(j => 1.0 / (1L << j)).toArray) // 2^-M
    val regsAgg = udaf(new graft.functions.HllRegisters(m))
    val agg = hllKeyed(events, keyCol, windowLength, watermark, m, mapWidth)
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_events"),
        regsAgg(col("__reg"), col("__rank")).as("__regs"))
    val s = aggregate(
      transform(col("__regs"), r => element_at(invPows, r + 1)),
      lit(0.0), (acc, x) => acc + x)
    val zeros = size(filter(col("__regs"), r => r === 0))
    val alpha =
      if (m == 16) 0.673
      else if (m == 32) 0.697
      else if (m == 64) 0.709
      else 0.7213 / (1 + 1.079 / m)
    val raw = lit(alpha * m * m) / s
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
      round(lit(m.toDouble) * round(log(lit(m.toDouble) / zeros), 6), 4))
      .otherwise(round(raw, 4))
    agg.select(col("window.start").as("win_start"), col("n_events"),
      est.as("est_distinct"))
  }

  /** Gap-based sessionization (batch form): a new session starts when the gap
    * since the user's previous event exceeds `gapSeconds`. Returns the input
    * plus `session_idx` (1-based per user). One shuffle on user_id; the
    * window sort key (ts, event_id) is unique so results are deterministic.
    *
    * The streaming twin of this is mapGroupsWithState with a session timeout;
    * the batch form is what the oracle can check.
    */
  /** Event row for the stateful session path. */
  final case class Evt(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  /** Closed session summary emitted by [[sessionizeStateful]]. */
  final case class Session(user_id: Long, session_idx: Long, n_events: Long,
      start: Timestamp, end: Timestamp, total_value: Double)

  /** open-session state as a tuple (idx, n, startMicros, lastMicros, total) —
    * tuple encoders serialize cleanly through the streaming state store where
    * object-nested case classes trip Janino.
    */
  private type SessState = (Long, Long, Long, Long, Double)

  /** micros → Timestamp preserving sub-millisecond precision. The
    * Timestamp(millis) constructor alone drops the micro remainder — on
    * event data with µs resolution that truncation silently shifts every
    * emitted boundary (caught against real testdata: ~100% of event rows
    * carry a non-zero sub-ms component).
    */
  private def tsOfMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming sessionization with custom state — `flatMapGroupsWithState`
    * over user_id with a processing-time timeout (the KeyValueGroupedDataset
    * custom-state path the reference has no analog for). Emits one row per
    * CLOSED session: a session closes when a gap > `gapSeconds` is observed
    * or the state times out. Works on batch Datasets too (state spans the
    * whole group; all sessions close at group end).
    */
  def sessionizeStateful(events: Dataset[Evt], gapSeconds: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    // capture NOW: the Dataset handle is not usable inside the executor-side
    // state function (its logicalPlan is null there)
    val streaming = events.isStreaming

    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessState], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Evt], state: GroupState[List[SessState]]) =>
          // sort this batch's events; carry open-session state across batches
          val sorted = rows.toVector.sortBy(e => (micros(e.ts), e.event_id))
          var open = state.getOption.flatMap(_.headOption)
          val closed = Vector.newBuilder[Session]
          sorted.foreach { e =>
            val t = micros(e.ts)
            open match {
              case Some((idx, n, st, last, tot)) if t - last <= gapMicros =>
                open = Some((idx, n + 1, st, t, tot + e.value))
              case Some((idx, n, st, last, tot)) =>
                closed += Session(user, idx, n,
                  tsOfMicros(st), tsOfMicros(last), tot)
                open = Some((idx + 1, 1L, t, t, e.value))
              case None =>
                open = Some((1L, 1L, t, t, e.value))
            }
          }
          open match {
            case Some(s) => state.update(List(s))
            case None    => state.remove()
          }
          // batch semantics: each group is seen once, so flush the open
          // session as closed when the source is not streaming
          if (!streaming) {
            open.foreach { case (idx, n, st, last, tot) =>
              closed += Session(user, idx, n,
                tsOfMicros(st), tsOfMicros(last), tot)
            }
          }
          closed.result().iterator
      }
  }

  /* == streaming as-of join == */

  /** Left probe row: "latest right value at-or-before t for key". */
  final case class AsofProbe(key: Long, t: Timestamp, probe_id: Long)
  /** Right reference row (a quote / state update). */
  final case class AsofRef(key: Long, t: Timestamp, value: Double)
  /** Match result; asof_value None when no reference at-or-before the probe. */
  final case class AsofMatch(probe_id: Long, key: Long, t: Timestamp,
      asof_value: Option[Double])

  /** Streaming as-of join — the streaming twin of
    * [[graft.operators.AsofJoin]]'s union-marker formulation: both inputs are
    * tagged and merged, one keyed state function sees them in event-time
    * order, and the state carries only (latest ref time, value) per key —
    * O(keys) state, no buffering of the probe stream.
    *
    * Exactness contract: within a micro-batch rows are processed in event-time
    * order (refs before probes on ties — `>=` as-of semantics); across
    * micro-batches results are exact when each key's rows arrive in
    * non-decreasing event time (time-ordered ingestion). A ref arriving after
    * a later probe was already emitted does not retro-update it — the
    * standard streaming as-of limitation. Works on batch Datasets too (each
    * group seen once, hence exact).
    */
  def asofStateful(probes: Dataset[AsofProbe], refs: Dataset[AsofRef]): Dataset[AsofMatch] = {
    import probes.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val tagged = probes.map(p => (p.key, micros(p.t), false, 0.0, p.probe_id))
      .unionByName(refs.map(r => (r.key, micros(r.t), true, r.value, -1L)))
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Boolean, Double, Long)],
            state: GroupState[(Long, Double)]) =>
          // refs sort before probes at equal time: as-of is inclusive (>=)
          val sorted = rows.toVector.sortBy(r => (r._2, !r._3))
          var last: Option[(Long, Double)] = state.getOption
          val out = Vector.newBuilder[AsofMatch]
          sorted.foreach {
            case (_, tm, true, v, _) =>
              if (last.forall(_._1 <= tm)) last = Some((tm, v))
            case (_, tm, false, _, pid) =>
              out += AsofMatch(pid, key, tsOfMicros(tm),
                last.collect { case (rt, rv) if rt <= tm => rv })
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Stream-static enrichment join: the static side behaves like a broadcast
    * dimension on every micro-batch.
    */
  def enrich(stream: DataFrame, static: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(static, keys, "left")

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exactDedup]]: drop events whose key columns
    * were already seen. The watermark bounds the dedup state: keys older
    * than `tsCol` watermark are evicted, so state is O(keys within the
    * watermark window), not O(stream). Works on batch frames too (plain
    * dropDuplicates).
    */
  def dedupStream(events: DataFrame, keys: Seq[String], tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicates(keys :+ tsCol)
    else events.dropDuplicates(keys :+ tsCol)

  /** Stream-stream interval join: match events from two streams on a key
    * within ±`toleranceSeconds`. Both sides need watermarks so the state
    * store can evict: rows older than watermark+tolerance can never match.
    * Column names: left keeps its names; right's are suffixed `_r`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      toleranceSeconds: Long, watermark: String = "30 seconds",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r0 = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"${c}_r"))
    val r = r0.withWatermark("ts_r", watermark)
    // the two-sided time-range predicate is what makes an OUTER stream-
    // stream join legal (and what lets the state store evict on any type):
    // a row whose match window the watermark has fully passed is provably
    // complete, so left_outer can emit its null-padded row then — and only
    // then. Inner matches emit in the completing micro-batch regardless.
    l.join(r,
      col(key) === col(s"${key}_r") &&
        col("ts_r") >= col("ts") - expr(s"INTERVAL $toleranceSeconds SECONDS") &&
        col("ts_r") <= col("ts") + expr(s"INTERVAL $toleranceSeconds SECONDS"),
      joinType)
  }

  /** Ordered event funnel: for each user who performed `steps.head`, the
    * earliest strictly-increasing chain of step timestamps (t₁ = min ts of
    * step 1; tₖ = min ts of step k AFTER tₖ₋₁), how many steps were
    * reached, and whether the whole funnel completed within
    * `withinSeconds` of t₁. The earliest-chain greedy is optimal for
    * reachability: any valid chain's step-k time is ≥ the greedy's, so
    * taking each minimum never forfeits a later step. Strict `>` chaining
    * makes ties engine-unambiguous.
    *
    * Scale shape: one aggregate per step, each over ONLY that step's
    * events (the type filter reaches the scan), joined on user_id — k-1
    * key-partitioned joins, no window over whole histories and no
    * per-user event buffering. Users who never performed step 1 are
    * absent by definition.
    */
  def funnel(events: DataFrame, steps: Seq[String],
      withinSeconds: Long): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got ${steps.size}")
    require(withinSeconds > 0, s"withinSeconds must be positive")
    var acc = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    for (k <- 2 to steps.size) {
      val stepEvents = events.filter(col("event_type") === steps(k - 2 + 1))
        .select(col("user_id"), col("ts").as("__ts"))
      val keep = col("user_id") +: (1 until k).map(j => col(s"t$j"))
      acc = acc.join(stepEvents, Seq("user_id"), "left")
        .groupBy(keep: _*)
        .agg(min(when(col("__ts") > col(s"t${k - 1}"), col("__ts"))).as(s"t$k"))
    }
    val n = steps.size
    val reached = (2 to n).map(k => when(col(s"t$k").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    acc.select(
      (col("user_id") +: (1 to n).map(k => col(s"t$k"))) :+
        reached.as("steps_completed") :+
        (col(s"t$n").isNotNull &&
          unix_micros(col(s"t$n")) - unix_micros(col("t1")) <=
            withinSeconds * 1000000L).as("completed"): _*)
  }

  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("__new").over(run))
      .drop("__prev", "__new")
  }
}
