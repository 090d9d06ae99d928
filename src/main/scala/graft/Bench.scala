package graft

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints two JSON lines, the full per-gate record and then a compact
  * summary. Session warmup (codegen, parquet footer listing, shuffle
  * machinery) is paid by an uncounted warmup pass so per-query times
  * measure the query, not JVM cold start.
  *
  * Whether a change made the engine slower is decided by perfbench
  * (parent and change run interleaved on one box); this main is the
  * per-gate record. Each gate gets its min-of-N seconds and, per pass, its
  * QueryTrace phases and Spark work totals — machine-independent evidence
  * of a plan change. A per-gate A/B is this main run on both checkouts.
  */
object Bench {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000.0

  /** The COMPACT summary line, for readers that keep only the LAST ~2000
    * characters of stdout: the 240-gate queries map alone is ~6 KB, so no
    * line carrying every gate fits in that tail.
    * This line carries the totals, the error map, and the SLOWEST gates'
    * per-query seconds greedily packed into `budget` bytes (slowest-first
    * selection = the gates that carry the total; name-sorted in the output
    * for determinism). `queries_omitted` + `full_queries_in` say in-band
    * that the full map is in `recordFile`, so a consumer of this line can
    * never mistake the subset for the suite.
    */
  def compactSummary(total: Double, times: Map[String, Double],
      errors: Map[String, String], runs: Int, sfDir: String,
      recordFile: String, budget: Int = 1800): String = {
    val errs: Any = {
      val full = TreeMap.from(errors)
      // an error storm must not evict the per-query payload — fall back
      // to the count (n_errors always carries it)
      if (json.writeValueAsString(full).length <= 400) full
      else s"see $recordFile"
    }
    def line(queries: Seq[(String, Double)]): String =
      json.writeValueAsString(ListMap(
        "metric" -> "total", "value" -> r3(total), "unit" -> "sec",
        "runs" -> runs, "n_queries" -> (times.size + errors.size),
        "n_errors" -> errors.size, "errors" -> errs,
        "queries" -> TreeMap.from(queries),
        "queries_omitted" -> (times.size - queries.size),
        "full_queries_in" -> recordFile, "sf" -> sfDir))
    // greedy slowest-first fill; the empty line carries the widest
    // omitted count, and the first entry needs no comma
    var room = budget - line(Nil).length + 1
    val picked = times.toSeq.sortBy(-_._2).map { case (n, t) => n -> r3(t) }
      .filter { e =>
        val cost = json.writeValueAsString(Map(e)).length - 1 // `"n":t,`
        cost <= room && { room -= cost; true }
      }
    line(picked)
  }

  /** The run's two stdout lines, (full record, [[compactSummary]]), from
    * each gate's pass times, the failures, and each gate's per-pass phase
    * entries; `recordFile` is where the full record is written. A gate in
    * `errors` failed on some pass: it reads -1 in the record and is left
    * out of the total and the summary's `queries`, whatever its other
    * passes measured.
    */
  def report(samples: Map[String, Seq[Double]], errors: Map[String, String],
      phases: Map[String, Seq[Map[String, Any]]], runs: Int, sfDir: String,
      env: Map[String, Any], recordFile: String): (String, String) = {
    val times = samples.collect { case (k, ss) if !errors.contains(k) => k -> ss.min }
    val total = times.values.sum
    val record = json.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      // a failed gate reports -1 (never a plausible wall time), so it fails
      // the bench visibly instead of looking fast
      "queries" -> (TreeMap.empty[String, Any] ++ times ++ errors.keys.map(_ -> -1)),
      "errors" -> TreeMap.from(errors), "runs" -> runs, "env" -> env,
      "phases" -> TreeMap.from(phases), "sf" -> sfDir))
    (record, compactSummary(total, times, errors, runs, sfDir, recordFile))
  }

  /** One gate's entry for one pass in the record's `phases`: its wall
    * seconds (`s`), its spans (phase seconds), its trace attributes (a
    * number where the value parses as one, else the string, so routes such
    * as `prefix.route` and `sim.route` reach the record) and its Spark
    * work. A per-gate A/B reads a gate's spread across passes and diffs its
    * routes from these.
    */
  def passEntry(seconds: Double, spans: Seq[(String, Double)],
      attributes: Seq[(String, String)], work: QueryTrace.Totals): ListMap[String, Any] =
    ListMap[String, Any]("s" -> r3(seconds)) ++
      spans.map { case (k, secs) => k -> r3(secs) } ++
      attributes.map { case (k, v) =>
        k -> v.toLongOption.orElse(v.toDoubleOption).getOrElse(v)
      } ++ ListMap("jobs" -> work.jobs, "tasks" -> work.tasks,
        "task_s" -> r3(work.taskSeconds),
        "spill_bytes" -> work.spilledBytes,
        "shuffle_bytes" -> work.shuffleBytes,
        "peak_exec_bytes" -> work.peakExecutionBytes)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the shipped session, so the measured engine is the one users get;
    // only measurement placement (core count, tmpfs checkpoint root below)
    // is bench-local
    val spark = graft.api.EngineSession.local(cpus).spark

    // default the IMPLICIT streaming checkpoints (gates without an explicit
    // location: q132/q141/q205/q212/q213 + q100) onto the tmpfs-preferring
    // gate root: java.io.tmpdir is a contended DISK on the bench box, so
    // offset/commit/state fsyncs would measure it, not the stream.
    // Session-conf (not per-gate) because it is measurement placement, not
    // query logic; a production stream always sets an explicit DURABLE
    // location and never hits this default.
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

    // full passes, per-query minimum (standard min-of-N reporting):
    // single-pass times carry ±10-15% JIT/GC/scheduler noise that dwarfs
    // real plan differences; the second pass also amortizes per-query
    // codegen. Pass count is recorded in the JSON.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // optional comma-separated subset for local iteration (driver sets no env)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = mutable.Map.empty[String, Vector[Double]]
    val errors = mutable.Map.empty[String, String]
    val phases = mutable.Map.empty[String, Vector[Map[String, Any]]]
    def timeOne(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        val (_, trace) = QueryTrace.run(spark)(fn(spark, sfDir).count())
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        // totals waits for the listener bus, so it is read after the timer
        // stopped
        phases(name) = phases.getOrElse(name, Vector.empty) :+
          passEntry(dt, trace.spans, trace.attributes, trace.totals)
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
    for (_ <- 1 to runs; name <- names if !errors.contains(name)) timeOne(name)

    // the full record also lands in a file so every per-query time stays
    // machine-readable. The file is RUN-STAMPED by default:
    // `bench_out.json` is the COMMITTED record that README and
    // ReadmeCanarySpec pin, and a full rerun that lands there after the
    // record commit makes the working tree fail the canary. Updating the
    // committed record is an explicit act: pass `--commit` (or set
    // SPARK_GRAFT_BENCH_OUT). Run-stamped files are gitignored.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (args.contains("--commit")) "bench_out.json"
      else s"bench_out_${java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd_HHmmss"))}.json")
    // which tmp base the gates' checkpoint/store I/O resolved (/dev/shm vs
    // the java.io.tmpdir fallback) and how much room it had
    val (tmpBase, tmpFree) = graft.queries.GateTmp.info
    val (record, summary) = report(samples.toMap, errors.toMap, phases.toMap,
      runs, sfDir, ListMap("tmp_base" -> tmpBase, "tmp_free_bytes" -> tmpFree),
      out)
    println(record)
    // the summary is the very last stdout line: a ~2000-char stdout tail
    // holds it complete, where the full record never fits
    println(summary)
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (record + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
    // checkpoints under the default root are not temp-tracked by Spark
    // (only implicit temp locations are) — drop the whole run's root
    try org.apache.commons.io.FileUtils.deleteDirectory(benchCkptRoot.toFile)
    catch { case _: Exception => () }
  }
}
