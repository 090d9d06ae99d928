package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Session warmup (codegen, parquet footer listing,
  * shuffle machinery) is paid by an uncounted warmup pass so per-query times
  * measure the query, not JVM cold start.
  */
object Bench {

  /** Min-vs-median anchor-ratio basis from raw anchor samples — pure so a
    * spec can pin the classification on the measured calibration windows
    * (see the comment at the call site). Returns (basis, ratio): basis
    * "median" iff medSum/minSum ≥ 1.15 AND the MEDIAN per-anchor in-run
    * spread ≥ 0.8. Median, not mean (r16): a genuinely bimodal window
    * degrades every anchor's spread together (r15 bimodal: 1.16/1.84/0.72),
    * while ONE hiccup sample on ONE anchor inflates only that anchor's
    * spread (an r16 run measured 2.28/0.61/0.36 — mean 1.08 flipped the
    * basis to median and normalized a 158 s run to a nonsense 82 s; the
    * median 0.61 correctly keeps the min basis, which agreed with an
    * independent same-day window within 1%).
    */
  def anchorBasis(samples: Map[String, List[Double]],
      refs: Map[String, Double]): (String, Double) = {
    // keys.toSeq before mapping to values: mapping a SET to per-anchor
    // numbers dedupes equal values before the sum — two anchors that
    // happened to measure the same min would silently drop one term
    val ks = refs.keys.toSeq
    val minSum = ks.map(k => samples(k).min).sum
    val medSum = ks.map { k =>
      val ss = samples(k); ss.sorted.apply(ss.length / 2)
    }.sum
    val spreads = ks.map { k =>
      val ss = samples(k); (ss.max - ss.min) / ss.min
    }.sorted
    val medSpread = spreads(spreads.length / 2)
    val bimodal = medSum / minSum >= 1.15 && medSpread >= 0.8
    (if (bimodal) "median" else "min",
      (if (bimodal) medSum else minSum) / refs.values.sum)
  }

  /** True iff `prevJson` RECORDS a scale factor and it is `sfDir` (modulo a
    * trailing slash, nothing looser) — pure so a spec can pin that a record
    * MISSING the sf field is never compared (ADVICE r15: the old forall
    * treated "no sf" as "any sf").
    */
  def sfMatches(prevJson: String, sfDir: String): Boolean =
    raw""""sf":"([^"]+)"""".r.findFirstMatchIn(prevJson)
      .exists(_.group(1).stripSuffix("/") == sfDir.stripSuffix("/"))

  /** The previous record's per-gate raw times plus its anchor ratio,
    * parsed from the JSON text — the shared substrate of the tripwire
    * and the round-over-round median. Exponent-aware number pattern
    * (ADVICE r15): a plain [0-9.]+ reads 8.5E-4 as 8.5 — and
    * sub-millisecond gate times DO serialize in scientific notation, so
    * the tripwire would baseline ×10000 high.
    */
  private[graft] def prevGateEntries(prevJson: String)
      : (Double, Seq[(String, Double)]) = {
    val num = raw"-?[0-9.]+(?:[eE][-+]?[0-9]+)?"
    val prevRatio = raw""""anchor_ratio":($num)""".r
      .findFirstMatchIn(prevJson).map(_.group(1).toDouble).getOrElse(1.0)
    val qBlock = prevJson.indexOf("\"queries\":{")
    if (qBlock < 0) return (prevRatio, Nil)
    val inner = prevJson.substring(qBlock + "\"queries\":{".length,
      prevJson.indexOf("}", qBlock))
    (prevRatio, raw""""([a-zA-Z0-9_]+)":($num)""".r.findAllMatchIn(inner)
      .map(m => (m.group(1), m.group(2).toDouble)).toSeq)
  }

  /** Per-gate regression tripwire against a previous record's JSON text —
    * pure so a spec can pin the ×1.5 detection, the 0.05 s prior floor,
    * the error exclusion, and the cross-ratio normalization. Returns
    * (gate, prevNorm, curNorm, ratio) for every overlapping gate whose
    * anchor-normalized time grew past ×1.5.
    */
  def regressionsVsPrev(prevJson: String, times: Map[String, Double],
      errored: String => Boolean, curRatio: Double,
      threshold: Double = 1.5): Seq[(String, Double, Double, Double)] = {
    val (prevRatio, entries) = prevGateEntries(prevJson)
    entries.flatMap { case (name, prevRaw) =>
      times.get(name).flatMap { curRaw =>
        val prevNorm = prevRaw / prevRatio
        val curNorm = curRaw / curRatio
        if (prevRaw >= 0.05 && !errored(name) && curNorm / prevNorm > threshold)
          Some((name, prevNorm, curNorm, curNorm / prevNorm))
        else None
      }
    }
  }

  /** A confirmed tripwire entry, carrying the RAW times beside the
    * anchor-normalized ones plus a machine adjudication `cls` (VERDICT
    * r17 #2): `leverage` when the raw ratio stayed under ×1.25 while the
    * normalized ratio crossed the ×1.5 wire — a small gate whose time
    * does not scale with the anchors crosses whenever a fast window
    * meets a slow baseline (the q178_grouping_id class: raw flat
    * 0.176–0.209 s across all fourteen r16/r17 windows while the
    * baselines' anchor ratios spanned 1.037–1.469) — and `plan` when
    * the raw time itself grew. README quotes the class; the raw
    * flatness no longer needs re-deriving from other windows by hand.
    */
  final case class Regression(name: String, prevNorm: Double,
      curNorm: Double, ratio: Double, prevRaw: Double, curRaw: Double,
      cls: String)

  /** Machine adjudication of a confirmed tripwire entry — see
    * [[Regression]]. Pure so the spec pins both classes.
    */
  def regressionClass(prevRaw: Double, curRaw: Double): String =
    if (prevRaw > 0 && curRaw / prevRaw < 1.25) "leverage" else "plan"

  /** Tripwire PERSISTENCE rule (VERDICT r16 #3): a gate flags only when
    * it reads ×1.5+ BOTH at detection time (the regular min-of-N passes)
    * and after a dedicated confirm re-measure later in the same run — a
    * transient machine moment rarely survives a second look minutes
    * apart (the r16 record carried 6 entries, all adjudicated
    * environmental; one rejected window produced 28), while a plan-borne
    * regression reproduces by construction. Since the confirm sample
    * only LOWERS a gate's min, the confirmed set is exactly the
    * detection set re-evaluated on the final times; the cleared set —
    * returned with (prevNorm, detectNorm, confirmNorm) — rides in the
    * record so the scatter is documented, not silently dropped. Pure so
    * BenchLogicSpec pins both outcomes.
    */
  def confirmedRegressions(prevJson: String,
      timesAtDetection: Map[String, Double], timesFinal: Map[String, Double],
      errored: String => Boolean, curRatio: Double)
      : (Seq[Regression], Seq[(String, Double, Double, Double)]) = {
    val prevRaws = prevGateEntries(prevJson)._2.toMap
    val detected = regressionsVsPrev(prevJson, timesAtDetection, errored,
      curRatio)
    val confirmed = regressionsVsPrev(prevJson, timesFinal, errored, curRatio)
      .filter(e => detected.exists(_._1 == e._1))
      .map { case (name, prevNorm, curNorm, ratio) =>
        val prevRaw = prevRaws.getOrElse(name, Double.NaN)
        val curRaw = timesFinal.getOrElse(name, Double.NaN)
        Regression(name, prevNorm, curNorm, ratio, prevRaw, curRaw,
          regressionClass(prevRaw, curRaw))
      }
    val confirmedNames = confirmed.map(_.name).toSet
    val cleared = detected.filterNot(e => confirmedNames(e._1))
      .map { case (name, prevNorm, detectNorm, _) =>
        (name, prevNorm, detectNorm,
          timesFinal.getOrElse(name, Double.NaN) / curRatio)
      }
    (confirmed, cleared)
  }

  /** The round-over-round claim, computed in code (VERDICT r16 #5):
    * median anchor-normalized cur/prev ratio over overlapping, unerrored
    * gates whose PREV normalized time ≥ `floor` (0.2 s — sub-floor gates
    * flap on scheduler noise alone). Robust to both the anchor-basis
    * choice and new-gate total growth — which is why README quotes THIS
    * field for "flat vs last round", never the totals delta. Returns
    * (median ratio, overlapping gate count); None without a comparable
    * prev record.
    */
  def gateMedianRatioVsPrev(prevJson: String, times: Map[String, Double],
      errored: String => Boolean, curRatio: Double, floor: Double = 0.2)
      : Option[(Double, Int)] = {
    val (prevRatio, entries) = prevGateEntries(prevJson)
    val ratios = entries.flatMap { case (name, prevRaw) =>
      times.get(name).flatMap { curRaw =>
        val prevNorm = prevRaw / prevRatio
        if (prevRaw > 0 && prevNorm >= floor && curRaw > 0 && !errored(name))
          Some((curRaw / curRatio) / prevNorm)
        else None
      }
    }.sorted
    if (ratios.isEmpty) None
    else Some((ratios(ratios.length / 2), ratios.length))
  }

  /** Gates timed min-of-3 (one extra pass) with a reported per-run spread,
    * so flat-plan machine wobble on I/O-heavy / streaming-floor gates
    * reads as spread, not as a regression — without tripling the whole
    * bench.
    *
    * ENTRY/EXIT RULE (r17, VERDICT r16 #3+#4 — the list is a measured
    * state, not a ratchet; min-of-3 recovers fast moments and therefore
    * DAMPENS the tripwire on exactly these gates, so membership must be
    * earned and re-earned):
    *   - ENTER: cross-window spread (max/min of the gate's
    *     anchor-normalized committed values) ≥ 1.4× across ≥ 3 same-day
    *     full windows at one SF, with unchanged plans and no confirmed
    *     tripwire hit. Date-stamp the addition.
    *   - EXIT: cross-window spread < 1.3× over a full round's windows
    *     (the 1.3/1.4 gap is hysteresis against churn), or whenever the
    *     gate's code is touched (it must re-earn the extra pass).
    *   - A gate too new to have ≥ 3 windows stays until it does.
    * The spreads are MEASURED BY TOOL since r18 ([[BenchSpread]],
    * VERDICT r17 #3): `runMain graft.BenchSpread <windows...>` emits
    * per-gate cross-window anchor-normalized spread plus this rule's
    * adjudication — the r17 hand-derived audit (four r16 windows:
    * 16 exits at 1.18–1.30, 13 stays at 1.33–5.49) was reproduced by
    * the tool to the third decimal before the hand numbers were
    * retired; see spreadcheck_r18.txt for both runs.
    *
    * r18 audit (2026-08-16, the three r17-code full windows: committed
    * record + 18:50 + 22:22, population median spread 1.54 — an
    * INCOHERENT set, so entries are suppressed and only the extra-safe
    * exits below act; see [[BenchSpread.adjudicate]]): SIX gates
    * measured < 1.3× despite the set-wide inflation and LEFT —
    * q43_wcc 1.12, q76_contamination 1.26, q95_label_prop 1.12,
    * q96_kcore 1.11, q167_containment 1.23, and q242_ivf_drift_rebuild
    * 1.296 on its third window (closing the r17 "too new to exit"
    * carry). The EIGHT that stay measured ≥ 1.3× on the same windows:
    * q100_stream_curation 1.31, q157_edit_near_dup 1.51,
    * q187_ivf_index_roundtrip 1.31, q188_ivfpq_envelope 1.53,
    * q197_sq8_index_roundtrip 1.37, q206_cluster_outliers 1.57,
    * q214_ingest_crawl 2.37 (proven environmental by its in-record work
    * profile), q231_ivfsq8_adaptive 1.63.
    * ReadmeCanarySpec pins the count so the list cannot drift silently.
    */
  val volatileDefault: Set[String] = Set(
    "q100_stream_curation", "q157_edit_near_dup",
    "q187_ivf_index_roundtrip", "q188_ivfpq_envelope",
    "q197_sq8_index_roundtrip", "q206_cluster_outliers",
    "q214_ingest_crawl", "q231_ivfsq8_adaptive")

  /** The driver-parseable COMPACT summary line (VERDICT r18 #1). The
    * driver snapshots only the LAST ~2000 characters of stdout and tries
    * to parse a JSON line out of them; the full record line has grown to
    * ~11 KB and the 240-gate queries map ALONE is ~6 KB (measured: 3,836
    * chars of gate names + ~9/entry), so no line carrying every gate can
    * ever sit complete inside that tail — which is why BENCH_r01..r18 all
    * carry `parsed: null`. This line is the best the physics allows: the
    * totals, the anchor normalization, the error map, and the SLOWEST
    * gates' per-query seconds greedily packed into `budget` bytes
    * (slowest-first selection = the gates that carry the total and any
    * perf claim; name-sorted in the output for determinism). The FULL
    * per-query map still rides the first stdout line and `bench_out.json`;
    * `queries_omitted` + `full_queries_in` say so in-band, so a consumer
    * of this line can never mistake the subset for the suite.
    *
    * Pure so BenchLogicSpec pins: fits the budget, valid JSON shape, the
    * slowest gates are present, omission count is exact.
    */
  def compactSummary(total: Double, times: Map[String, Double],
      errors: Map[String, String], anchorRatio: Option[Double],
      ratioBasis: String, runs: Int, sfDir: String,
      budget: Int = 1800): String = {
    def r3(v: Double): Double = math.rint(v * 1000) / 1000.0
    val errsJson =
      if (errors.isEmpty) """"errors":{}"""
      else {
        val full = errors.toSeq.sortBy(_._1)
          .map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
          .mkString("\"errors\":{", ",", "}")
        // an error storm must not evict the per-query payload — fall back
        // to the count (n_errors below always carries it)
        if (full.length <= 400) full else """"errors":"see bench_out.json""""
      }
    val normJson = anchorRatio.map { r =>
      s""","anchor_ratio":${r3(r)},"anchor_ratio_basis":"$ratioBasis"""" +
        s""","total_anchor_normalized":${r3(total / r)}"""
    }.getOrElse("")
    val prefix = s"""{"metric":"total","value":${r3(total)},"unit":"sec"""" +
      s""","runs":$runs,"n_queries":${times.size + errors.size}""" +
      s""","n_errors":${errors.size},$errsJson$normJson,"queries":{"""
    def suffix(omitted: Int) =
      s"""},"queries_omitted":$omitted,"full_queries_in":"bench_out.json"""" +
        s""","sf":"$sfDir"}"""
    // greedy slowest-first fill against the worst-case suffix length
    val room = budget - prefix.length - suffix(times.size).length
    val bySlowest = times.toSeq.sortBy(-_._2)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    for ((name, t) <- bySlowest) {
      val entry = "\"" + name + "\":" + r3(t)
      val cost = entry.length + (if (picked.isEmpty) 0 else 1)
      if (used + cost <= room) { picked += ((name, t)); used += cost }
    }
    val qJson = picked.sortBy(_._1)
      .map { case (n, t) => "\"" + n + "\":" + r3(t) }.mkString(",")
    prefix + qJson + suffix(times.size - picked.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // engine confs (codegen-cache sizing, shuffled-hash preference, AQE, TZ,
    // nanos adaptation) come from the SHARED defaults — VERDICT r18 #2: the
    // measured engine must be the shipped engine, so Bench applies exactly
    // what EngineSession/Verify apply, in one place (graft.SessionDefaults).
    // Only measurement placement (core count, UI, shuffle width = cores,
    // tmpfs checkpoint root below) stays bench-local.
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // default the IMPLICIT streaming checkpoints (gates without an explicit
    // location: q132/q141/q205/q212/q213 + q100) onto the tmpfs-preferring
    // gate root — the q215/q210 rationale (VERDICT r12 #4) extended to the
    // temp-checkpoint path: java.io.tmpdir is a contended DISK on the
    // driver box, so offset/commit/state fsyncs measure it, not the stream.
    // Session-conf (not per-gate) because it is measurement placement, not
    // query logic; a production stream always sets an explicit DURABLE
    // location and never hits this default. r18 A/B (OPTIMIZATION_r18.md
    // change 4): 5/6 gates faster on medians, total 0.97×.
    val benchCkptRoot = graft.queries.GateTmp.dir("graft_bench_ckpt")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      benchCkptRoot.toString)

    // warmup: fully read every input table once (page cache + parquet footers)
    // and exercise shuffle/agg/join codegen paths, all uncounted. A cold page
    // cache otherwise dominates the first scan of each table and the bench
    // measures I/O, not queries.
    try {
      val t = Tables(spark, sfDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
          t.lineitem, t.events, t.documents, t.embeddings)
        .foreach(df => df.foreach(_ => ()))
      t.lineitem.groupBy("l_returnflag").count().count()
      t.orders.join(t.customer, t.orders("o_custkey") === t.customer("c_custkey")).count()
    } catch { case _: Throwable => () }

    // two full passes, per-query minimum (standard min-of-N reporting):
    // single-pass times carry ±10-15% JIT/GC/scheduler noise that dwarfs
    // real plan differences; the second pass also amortizes per-query
    // codegen. Pass count is recorded in the JSON.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val volatile = sys.env.get("SPARK_GRAFT_BENCH_EXTRA")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(volatileDefault)
    // optional comma-separated subset for local iteration (driver sets no env)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    // each gate runs in its own QueryTrace; its spans (phase seconds) and
    // numeric attributes (candidate counts, HyperCube cells, ...) are
    // logged once per pass as "name:value,name:value", so a slow box shows
    // WHICH phase carries a swing inside the committed record itself
    val phaseLog = scala.collection.mutable.Map.empty[String, List[String]]
    def timeOne(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        val (_, trace) = QueryTrace.run(spark)(fn(spark, sfDir).count())
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = dt :: samples.getOrElse(name, Nil)
        val phases = trace.spans.map { case (k, secs) =>
            s"$k:${math.rint(secs * 1000) / 1000.0}"
          } ++ trace.attributes.collect {
            case (k, v) if v.toDoubleOption.isDefined => s"$k:$v"
          }
        if (phases.nonEmpty)
          phaseLog(name) = phases.mkString(",") :: phaseLog.getOrElse(name, Nil)
      } catch { case e: Throwable => errors(name) = e.getClass.getName }
      // UNTIMED inter-query drain: gates that pin localCheckpoint blocks
      // release them via the weak-ref ContextCleaner, which only fires
      // after a driver GC — and a 128 GiB heap almost never GCs on its
      // own, so pinned blocks accumulate across the run and the storage
      // pressure taxes whichever queries happen to run late in the pass
      // (measured: q91 +48% in a full pass vs isolated). A forced GC plus
      // a short cleaner drain between queries makes each measurement
      // independent of its position in the run order.
      System.gc()
      Thread.sleep(100)
    }
    // STOCK-SPARK anchors: three fixed queries using no graft code — a
    // scan-aggregate, a broadcast join, and a shuffle join+agg — timed
    // before and after the gate passes (min of the samples). Their times
    // measure the MACHINE WINDOW (I/O, shuffle, JVM state) inside this very
    // run, so round-over-round totals can be compared on the
    // anchor-normalized number instead of arguing the band from separate
    // runs (r13: the committed record was re-pinned in a degrading window,
    // +6.8% on 235 overlapping gates with zero plan changes; the same code
    // measured 119.6 s earlier that evening).
    val anchorFns: Seq[(String, () => Long)] = {
      import org.apache.spark.sql.functions.{sum, avg, broadcast, col}
      val t = Tables(spark, sfDir)
      // Tables fields are defs (fresh attribute ids per access) — capture
      // each side ONCE so join conditions reference the joined frames
      val li = t.lineitem
      val ord = t.orders
      val nat = t.nation.select(col("n_nationkey"))
      Seq(
        "anchor_scan_agg" -> (() => li
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), avg("l_extendedprice")).count()),
        "anchor_bcast_join" -> (() => ord
          .join(broadcast(nat), ord("o_custkey") % 25 === nat("n_nationkey"))
          .count()),
        "anchor_shuffle_join" -> (() => li
          .join(ord, li("l_orderkey") === ord("o_orderkey"))
          .groupBy("o_orderpriority").count().count()))
    }
    val anchorSamples = scala.collection.mutable.Map.empty[String, List[Double]]
    def timeAnchors(record: Boolean): Unit = anchorFns.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn()
        val dt = (System.nanoTime() - t0) / 1e9
        if (record) anchorSamples(name) = dt :: anchorSamples.getOrElse(name, Nil)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] anchor $name failed: $e")
      }
      System.gc(); Thread.sleep(100)
    }
    // pinned from the round-14 sf0.1 calibration run (2026-08-16, min of
    // 9 in-run samples); anchor spreads in that run were 0.4–1.6, i.e.
    // the box band moves WITHIN a run — treat the normalized total as a
    // band estimate, not a constant.
    // RECALIBRATION RULE (r16): every cross-round normalized comparison
    // divides by these exact constants, so re-pinning them silently
    // rebases history. Re-pin ONLY when the committed record's
    // anchor_ratio_basis flips twice within one round (the durable-band-
    // shift signature the basis switch can't absorb), never mid-round,
    // and date-stamp the change here and in README's recalibration
    // paragraph.
    val anchorRef = Map(
      "anchor_scan_agg" -> 0.144, "anchor_bcast_join" -> 0.084,
      "anchor_shuffle_join" -> 0.369)
    timeAnchors(record = false) // anchor codegen warmup, uncounted
    timeAnchors(record = true)
    for (_ <- 1 to runs; name <- names if !errors.contains(name)) timeOne(name)
    timeAnchors(record = true)
    for (name <- names if volatile(name) && !errors.contains(name)) timeOne(name)
    timeAnchors(record = true)
    // the committed record this run baselines against — same SF only (a
    // local subset run at another SF against the committed sf0.1 record
    // is pure noise)
    val prevCommitted: Option[String] = {
      val p = java.nio.file.Paths.get("bench_out.json")
      try {
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readString(p))
        else None
      } catch { case _: Exception => None }
    }.filter(sfMatches(_, sfDir))
    // CONFIRM PASS (VERDICT r16 #3): every gate reading ×1.5+ vs the
    // committed record at this point gets ONE dedicated re-measure,
    // minutes after its regular passes, before it may flag — window
    // scatter rarely reproduces across the gap (the r16 record's 6
    // entries read 0.71–1.35 in the other same-day windows), a plan
    // regression always does. Detection uses a provisional anchor ratio
    // from the samples so far; the record re-evaluates both sets on the
    // final ratio (confirmedRegressions).
    val timesAtDetection = samples.view.mapValues(_.min).toMap
    def ratioNow(): Double =
      if (sfDir.stripSuffix("/").endsWith("sf0.1") &&
          anchorRef.keys.forall(anchorSamples.contains))
        anchorBasis(anchorSamples.toMap, anchorRef)._2
      else 1.0
    // suspects are detected at x1.35 — BELOW the x1.5 flagging wire — so a
    // gate sitting just under the wire on the PROVISIONAL anchor ratio
    // still gets its confirm sample even if the final ratio (computed
    // after these passes) nudges it over; flagging itself stays at 1.5.
    // The detection RE-RUNS after each confirm round on the refreshed
    // ratio (ADVICE r17): the anchor ratio can move more than the
    // 1.5/1.35 margin within one run (same-day windows measured 1.037 vs
    // 1.184), and a gate crossing the wire only on the final ratio would
    // otherwise auto-confirm without ever receiving its re-measure —
    // min-only-lowers makes final == detection for an unsampled gate,
    // violating the "every flag survived a re-measure" guarantee. Each
    // round only ADDS suspects (the detection snapshot is fixed; only
    // the ratio moves), so the loop converges; 3 rounds bounds it.
    val suspectSet = scala.collection.mutable.Set.empty[String]
    var confirmRound = 0
    def newSuspects(): Seq[String] = prevCommitted.toSeq.flatMap { p =>
      regressionsVsPrev(p, timesAtDetection, errors.contains,
        ratioNow(), threshold = 1.35)
    }.map(_._1).filterNot(suspectSet)
    var pendingSuspects = newSuspects()
    while (pendingSuspects.nonEmpty && confirmRound < 3) {
      System.err.println(s"[bench] ${pendingSuspects.size} suspect " +
        s"gate(s) — confirm pass ${confirmRound + 1}: " +
        pendingSuspects.mkString(","))
      suspectSet ++= pendingSuspects
      pendingSuspects.foreach(timeOne)
      timeAnchors(record = true)
      confirmRound += 1
      pendingSuspects = newSuspects()
    }
    // the cap firing with suspects still pending means the anchor ratio
    // moved every round — those gates would confirm WITHOUT a re-measure
    // (confirm_sampled:false in the record); say so loudly at the moment
    // it happens, not only in the buried field
    if (pendingSuspects.nonEmpty)
      System.err.println(s"[bench] WARNING: confirm-round cap reached " +
        s"with ${pendingSuspects.size} unsampled suspect(s) — " +
        s"${pendingSuspects.mkString(",")} may confirm without a " +
        "re-measure (confirm_sampled:false); the anchor ratio moved " +
        "every round, distrust this window")
    val times = samples.view.mapValues(_.min).toMap
    // failed queries report -1 (never a plausible wall-time) + an errors map,
    // so a broken query fails the bench visibly instead of looking fast.
    val qs = names.map { k =>
      "\"" + k + "\":" + (if (errors.contains(k)) "-1" else times(k).toString)
    }.mkString("{", ",", "}")
    val spread = names.filter(k => volatile(k) && !errors.contains(k)).map { k =>
      val ss = samples(k)
      "\"" + k + "\":" + math.rint((ss.max - ss.min) / ss.min * 1000) / 1000.0
    }.mkString("{", ",", "}")
    // median of the 3 passes alongside the min for the volatile set: on a
    // contended box min-of-3 can still catch one lucky pass, and a large
    // spread alone doesn't say which end is real. min ≈ median → the min is
    // reproducible; min << median → the box was noisy, not the plan.
    val medians = names.filter(k => volatile(k) && !errors.contains(k)).map { k =>
      val ss = samples(k).sorted
      "\"" + k + "\":" + math.rint(ss(ss.length / 2) * 1000) / 1000.0
    }.mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1).map { case (k, e) =>
      "\"" + k + "\":\"" + e + "\""
    }.mkString("{", ",", "}")
    val total = names.collect { case k if !errors.contains(k) => times(k) }.sum
    // anchor summary: per-anchor min (same semantics as the gates) plus the
    // in-run spread — a large spread means the window DEGRADED DURING the
    // run, which no single normalization constant can fix but the record
    // should say. The normalized total divides by the measured-vs-reference
    // anchor ratio; reference values are pinned from the round-14 committed
    // sf0.1 record, so normalization is only emitted at sf0.1 (anchors are
    // SF-dependent).
    val anchorMin = anchorSamples.view.mapValues(_.min).toMap
    val anchorMed = anchorSamples.view
      .mapValues(ss => ss.sorted.apply(ss.length / 2)).toMap
    val anchorsJson = anchorFns.map(_._1).collect {
      case k if anchorMin.contains(k) =>
        val ss = anchorSamples(k)
        // median alongside min: a median ≫ min (with large spread) means
        // the window was BIMODAL — the min-based ratio then under-reports
        // the band the gates actually ran in
        "\"" + k + "\":" + (math.rint(ss.min * 10000) / 10000.0) +
          ",\"" + k + "_med\":" + (math.rint(anchorMed(k) * 10000) / 10000.0) +
          ",\"" + k + "_spread\":" + (math.rint((ss.max - ss.min) / ss.min * 1000) / 1000.0)
    }.mkString("{", ",", "}")
    // min-vs-median basis, AUTOMATED (r14 left it to the README narrative):
    // in a coherent window the min-of-9 anchor samples are the right
    // estimator (same semantics as the gates' min-of-N); in a BIMODAL
    // window the mins catch transient fast moments the gates never got —
    // r14 measured min-ratio ≈0.9 while gates ran ~1.2× slow. Detection =
    // medians well above mins with large in-run spreads; thresholds
    // calibrated on the two r15 full runs: the bimodal one (gates
    // uniformly ×1.5 over the record, min-norm a nonsense 157 vs
    // med-norm 128) measured medSum/minSum 1.228 / avg spread 1.24,
    // the coherent one 1.072 / 0.70 — so ≥ 1.15 and ≥ 0.8 split them
    // with margin on both sides. The record says which basis it used.
    val haveAll = anchorRef.keys.forall(anchorMin.contains)
    val (ratioBasis, anchorRatio): (String, Option[Double]) =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1") || !haveAll) ("none", None)
      else {
        val (basis, ratio) = anchorBasis(anchorSamples.toMap, anchorRef)
        (basis, Some(ratio))
      }
    val normJson = anchorRatio.map { r =>
      s""","anchor_ratio":${math.rint(r * 1000) / 1000.0},"anchor_ratio_basis":"$ratioBasis","total_anchor_normalized":${math.rint(total / r * 1000) / 1000.0}"""
    }.getOrElse("")
    // the pinned reference values ride INSIDE the record (ADVICE r14): a
    // downstream comparison can see what the normalization divided by, and
    // that the constants are one box/day's calibration — the normalized
    // total is a band estimate, not a precise number
    val anchorRefJson = anchorRef.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(""","anchor_ref":{""", ",", "}")
    // PER-GATE regression tripwire (VERDICT r14 #2): the q48 ×6.5 shipped
    // because only totals were compared. Before overwriting, read the
    // PREVIOUS committed record and compare every overlapping gate's
    // anchor-normalized time; everything above ×1.5 (with a prior time
    // ≥ 0.05 s — sub-50 ms gates flap on scheduler noise alone) that ALSO
    // survived its confirm re-measure (r16 #3 — see the confirm pass
    // above) lands in the record's `regressions` field and on stderr;
    // detections the confirm pass cleared land in `regressions_cleared`
    // with their detect-vs-confirm values, so scatter is documented
    // rather than silently dropped. The README round narrative must
    // enumerate the confirmed list, empty or explained.
    val regressionsJson = {
      val (confirmed, cleared) = prevCommitted.map { p =>
        confirmedRegressions(p, timesAtDetection.toMap, times,
          errors.contains, anchorRatio.getOrElse(1.0))
      }.getOrElse((Nil, Nil))
      val confirmedJson = confirmed.map { r =>
        System.err.println(f"[bench] REGRESSION (confirmed, ${r.cls}) " +
          f"${r.name}: ${r.prevNorm}%.2f -> ${r.curNorm}%.2f s " +
          f"anchor-normalized (x${r.ratio}%.2f; raw ${r.prevRaw}%.2f -> " +
          f"${r.curRaw}%.2f)")
        // confirm_sampled records that the entry actually received its
        // dedicated re-measure (ADVICE r17) — with the iterated suspect
        // detection above it always should; false would flag a
        // ratio-shift pathology worth reading the record's anchors for
        "\"" + r.name + "\":{\"prev_norm\":" +
          math.rint(r.prevNorm * 1000) / 1000.0 + ",\"cur_norm\":" +
          math.rint(r.curNorm * 1000) / 1000.0 + ",\"ratio\":" +
          math.rint(r.ratio * 100) / 100.0 + ",\"prev_raw\":" +
          math.rint(r.prevRaw * 1000) / 1000.0 + ",\"cur_raw\":" +
          math.rint(r.curRaw * 1000) / 1000.0 + ",\"class\":\"" + r.cls +
          "\",\"confirm_sampled\":" + suspectSet.contains(r.name) + "}"
      }.mkString(""","regressions":{""", ",", "}")
      val clearedJson = cleared.map { case (name, prevNorm, detN, confN) =>
        System.err.println(f"[bench] regression candidate $name cleared " +
          f"on confirm: detect $detN%.2f -> confirm $confN%.2f " +
          f"(prev $prevNorm%.2f) anchor-normalized")
        "\"" + name + "\":{\"prev_norm\":" +
          math.rint(prevNorm * 1000) / 1000.0 + ",\"detect_norm\":" +
          math.rint(detN * 1000) / 1000.0 + ",\"confirm_norm\":" +
          math.rint(confN * 1000) / 1000.0 + "}"
      }.mkString(""","regressions_cleared":{""", ",", "}")
      confirmedJson + clearedJson
    }
    // the round-over-round claim as a FIELD (VERDICT r16 #5): computed
    // here, spec-pinned, quoted by README — never re-derived by hand
    val gateMedianJson = prevCommitted.flatMap { p =>
      gateMedianRatioVsPrev(p, times, errors.contains,
        anchorRatio.getOrElse(1.0))
    }.map { case (med, n) =>
      s""","gate_median_ratio_vs_prev":${math.rint(med * 1000) / 1000.0},"gate_median_overlap_n":$n"""
    }.getOrElse("")
    // environment observability (VERDICT r14 #3): which tmp base the gates'
    // checkpoint/store I/O resolved (/dev/shm vs the java.io.tmpdir
    // fallback) and how much room it had — the one cross-box variable the
    // q214 investigation could not see in the committed records
    val envJson = {
      val (tmpBase, tmpFree) = graft.queries.GateTmp.info
      s""","env":{"tmp_base":"$tmpBase","tmp_free_bytes":$tmpFree}"""
    }
    // per-pass phase decompositions, pass order restored (lists were built
    // head-first)
    val phasesJson = phaseLog.toSeq.sortBy(_._1).map { case (name, ps) =>
      "\"" + name + "\":[" + ps.reverse.map { p =>
        p.split(",").map { kv =>
          val i = kv.lastIndexOf(':')
          "\"" + kv.take(i) + "\":" + kv.drop(i + 1)
        }.mkString("{", ",", "}")
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // only queries that actually got the third pass (present and unfailed)
    val minOf3Set = names.filter(k => volatile(k) && !errors.contains(k))
    val minOf3 =
      if (minOf3Set.isEmpty) "[]"
      else minOf3Set.sorted.mkString("[\"", "\",\"", "\"]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"runs":$runs,"minOf3":$minOf3,"spread":$spread,"median":$medians,"anchors":$anchorsJson$normJson$anchorRefJson$regressionsJson$gateMedianJson$envJson,"phases":$phasesJson,"sf":"$sfDir"}"""
    println(json)
    // COMPACT summary as the very last stdout line (VERDICT r18 #1): the
    // driver's ~2000-char stdout tail can hold THIS line complete (plus
    // sbt's trailing "[success]" line), where the full record above never
    // fits — see compactSummary's doc for the size physics. Full per-query
    // ground truth stays in the line above and in the bench_out file.
    println(compactSummary(total, times, errors.toMap, anchorRatio,
      ratioBasis, runs, sfDir))
    // the driver snapshots only a stdout tail (2000 chars — fewer than the
    // per-query map needs past ~65 queries); the full line also lands in a
    // file so every per-query time stays machine-readable.
    //
    // The file is RUN-STAMPED by default: `bench_out.json` is the COMMITTED
    // record that README and ReadmeCanarySpec pin, and any full rerun that
    // lands there after the record commit (a driver post-commit rerun did
    // exactly this in round 10) makes the working tree fail the canary.
    // Updating the committed record is an explicit act: pass `--commit`
    // (or set SPARK_GRAFT_BENCH_OUT). Run-stamped files are gitignored.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (args.contains("--commit")) "bench_out.json"
      else s"bench_out_${java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd_HHmmss"))}.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
    // checkpoints under the default root are not temp-tracked by Spark
    // (only implicit temp locations are) — drop the whole run's root
    try org.apache.commons.io.FileUtils.deleteDirectory(benchCkptRoot.toFile)
    catch { case _: Exception => () }
  }
}
