package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's own output logic: the compact summary line
  * a reader parses out of a stdout tail, and the one step from a run's
  * pass times and failures to both stdout lines.
  */
class BenchLogicSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("compactSummary: fits the driver's tail, keeps the slowest gates, says what it omitted") {
    // a stdout-tail reader sees only ~2000 chars; the 240-gate map is
    // ~6 KB, so the compact line packs the SLOWEST gates into the budget
    // and declares the omission in-band.
    val times = (1 to 240).map(i => f"q${i}_gate_name_of_usual_len" -> i * 0.01).toMap
    val line = Bench.compactSummary(times.values.sum, times, Map.empty,
      runs = 2, sfDir = "/data/sf0.1", recordFile = "bench_out_20260101_000000.json")
    assert(line.length <= 1800, s"line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith(""","sf":"/data/sf0.1"}"""))
    // the very slowest gate is always present; the very fastest never is
    // (240 entries cannot fit — the omission count must be exact)
    assert(line.contains("\"q240_gate_name_of_usual_len\":2.4"))
    assert(!line.contains("\"q1_gate_name_of_usual_len\":"))
    // the line is one complete JSON object
    val tree = mapper.readTree(line)
    assert(tree.get("queries").size + tree.get("queries_omitted").asInt === 240)
    assert(tree.get("full_queries_in").asText === "bench_out_20260101_000000.json")
  }

  test("compactSummary: a small suite fits whole, zero omitted; error storms degrade to a count") {
    val times = Map("q1_agg" -> 0.1, "q2_filter" -> 0.2)
    val line = Bench.compactSummary(0.3, times, Map("q3_x" -> "Boom"),
      runs = 2, sfDir = "/x", recordFile = "/tmp/b.json")
    assert(line.contains(""""queries":{"q1_agg":0.1,"q2_filter":0.2}"""))
    assert(line.contains(""""queries_omitted":0"""))
    assert(line.contains(""""errors":{"q3_x":"Boom"}"""))
    assert(line.contains(""""n_queries":3"""))
    val storm = (1 to 100).map(i => s"q${i}_e" -> "SomeLongExceptionClassName").toMap
    val line2 = Bench.compactSummary(0.3, times, storm, 2, "/x", "/tmp/b.json")
    assert(line2.length <= 1800)
    assert(line2.contains(""""errors":"see /tmp/b.json""""))
    assert(line2.contains(""""n_errors":100"""))
  }

  test("report: a gate that fails on a later pass is counted once, as an error") {
    // q_a timed 0.5 s on pass 1 and threw on pass 2. Summing samples and
    // errors separately counted it twice (n_queries 3 for 2 gates) and
    // listed its pass-1 time while the full record said -1.
    val (record, summary) = Bench.report(
      samples = Map("q_a" -> Seq(0.5), "q_b" -> Seq(0.25, 0.2)),
      errors = Map("q_a" -> "java.lang.RuntimeException"),
      phases = Map.empty, runs = 2, sfDir = "/x", env = Map.empty,
      recordFile = "/tmp/b.json")
    val s = mapper.readTree(summary)
    assert(s.get("n_queries").asInt === 2)
    assert(s.get("n_errors").asInt === 1)
    assert(!s.get("queries").has("q_a"))
    assert(s.get("queries").get("q_b").asDouble === 0.2)
    assert(s.get("value").asDouble === 0.2)
    val r = mapper.readTree(record)
    assert(r.get("queries").get("q_a").asInt === -1)
    assert(r.get("queries").get("q_b").asDouble === 0.2)
    assert(r.get("value").asDouble === 0.2)
  }

  test("report: the full record is one JSON object with per-pass phases and env") {
    val pass = (jobs: Long) => scala.collection.immutable.ListMap[String, Any](
      "cycle1" -> 0.12, "wcoj.cells" -> 4L, "jobs" -> jobs, "tasks" -> 8L,
      "task_s" -> 0.3, "spill_bytes" -> 0L, "shuffle_bytes" -> 2048L,
      "peak_exec_bytes" -> 1024L)
    val odd = "a \"quoted\" \\ path\twith\u0001control"
    val (record, _) = Bench.report(
      samples = Map("q47_wcoj_triangle" -> Seq(1.5, 1.25)),
      errors = Map("q9_broken" -> odd),
      phases = Map("q47_wcoj_triangle" -> Seq(pass(3L), pass(2L))),
      runs = 2, sfDir = "/x/sf0.001",
      env = Map("tmp_base" -> "/dev/shm", "tmp_free_bytes" -> 7L),
      recordFile = "/tmp/b.json")
    val r = mapper.readTree(record)
    val fields = r.fieldNames().asScala.toList
    assert(fields === List("metric", "value", "unit", "queries", "errors",
      "runs", "env", "phases", "sf"))
    assert(r.get("value").asDouble === 1.25)
    assert(r.get("errors").get("q9_broken").asText === odd)
    val passes = r.get("phases").get("q47_wcoj_triangle")
    assert(passes.size === 2)
    assert(passes.get(0).get("jobs").asLong === 3L)
    assert(passes.get(1).get("jobs").asLong === 2L)
    assert(passes.get(1).fieldNames().asScala.toList ===
      pass(2L).keys.toList)
    assert(passes.get(1).get("shuffle_bytes").asLong === 2048L)
    assert(r.get("env").get("tmp_base").asText === "/dev/shm")
  }

  test("passEntry: a pass keeps its wall seconds and its string route attributes") {
    val work = QueryTrace.Totals(jobs = 3, tasks = 8, taskSeconds = 0.31234,
      spilledBytes = 0, shuffleBytes = 2048, peakExecutionBytes = 1024)
    val e = Bench.passEntry(1.23456, Seq("cycle1" -> 0.12345),
      Seq("wcoj.cells" -> "4", "sim.route" -> "shuffle", "prefix.route" -> "window",
        "cos" -> "0.5"), work)
    assert(e.keys.toList === List("s", "cycle1", "wcoj.cells", "sim.route",
      "prefix.route", "cos", "jobs", "tasks", "task_s", "spill_bytes",
      "shuffle_bytes", "peak_exec_bytes"))
    assert(e("s") === 1.235)
    assert(e("cycle1") === 0.123)
    assert(e("wcoj.cells") === 4L)
    assert(e("cos") === 0.5)
    assert(e("sim.route") === "shuffle")
    assert(e("prefix.route") === "window")
    assert(e("task_s") === 0.312)
    // and it reaches the record as JSON of the same types
    val (record, _) = Bench.report(Map("q" -> Seq(1.23456)), Map.empty,
      Map("q" -> Seq(e)), runs = 1, sfDir = "/x", env = Map.empty, recordFile = "/tmp/b.json")
    val pass = mapper.readTree(record).get("phases").get("q").get(0)
    assert(pass.get("s").asDouble === 1.235)
    assert(pass.get("sim.route").asText === "shuffle")
    assert(pass.get("wcoj.cells").isIntegralNumber)
  }

  test("SessionDefaults carries the promoted engine confs for every entry point") {
    // VERDICT r18 #2: the r18 session confs must live in ONE shared home
    // consumed by Bench, Verify and EngineSession — this pins the contents;
    // the entry points compile against SessionDefaults() directly.
    val m = SessionDefaults.all.toMap
    assert(m("spark.sql.join.preferSortMergeJoin") === "false")
    assert(m("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(m("spark.sql.adaptive.enabled") === "true")
    assert(m("spark.sql.session.timeZone") === "UTC")
    assert(m("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // static confs must be applied builder-time — keep them declared so
    assert(SessionDefaults.static.toMap.contains("spark.sql.codegen.cache.maxEntries"))
  }
}
