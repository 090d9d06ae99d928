package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Drives graft's gates from outside, the way a client of the engine would:
  * open a session and the tables, then run gates in closed loop, each as
  * build (call the gate closure), plan (`executedPlan`) and exec (`collect`).
  *
  * Arguments are `key=value` pairs (see `run.py`, which builds them):
  *   mode=run|setup|list|digest, t0=<epoch ns at JVM launch>, cores, data,
  *   out, go=<file>, gates=<comma list>, exclusive=<a+b,...>, clients, seed, seconds,
  *   trace=0|1, spans=<file>, results=<dir>.
  *
  * `mode=setup` stops once the first operation could be submitted, so the
  * caller can take more set-up samples; `mode=run` then waits for the file
  * `go` before its first pass; `mode=list` writes each query
  * group's gate names; `mode=digest` digests every parquet result directory
  * under `results`. The result is one JSON object written to `out`.
  */
object Harness {
  final case class Op(gate: String, client: Int, pass: String, startNs: Long,
      buildS: Double, planS: Double, execS: Double, latencyS: Double,
      digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new java.io.File(opt("out"))
    opt("mode") match {
      case "list" => write(out, listGates())
      case "digest" =>
        val spark = graft.api.EngineSession.local(opt("cores").toInt).spark
        val dirs = new java.io.File(opt("results")).listFiles.filter(_.isDirectory).sortBy(_.getName)
        write(out, dirs.map { d =>
          s"${str(d.getName)}:${str(digest(spark.read.parquet(d.getPath).collect()))}"
        }.mkString("{", ",", "}"))
      case mode =>
        val t0EpochNs = opt("t0").toLong
        val cores = opt("cores").toInt
        val data = opt("data")
        val tSession = System.nanoTime()
        val spark = graft.api.EngineSession.local(cores).spark
        val sessionS = secs(tSession)
        val tTables = System.nanoTime()
        val t = graft.Tables(spark, data)
        Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
          t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
        val tablesS = secs(tTables)
        if (mode == "setup") {
          val setupS = (epochNs() - t0EpochNs) / 1e9
          write(out, s"""{"setup_s":$setupS,"session_s":$sessionS,"tables_s":$tablesS}""")
        } else {
          val clients = opt("clients").toInt
          val sessions =
            if (clients == 1) Seq(spark)
            else Seq.fill(clients)(graft.api.EngineSession(spark.newSession()).spark)
          val setupS = (epochNs() - t0EpochNs) / 1e9
          // the caller sets up more JVMs side by side with this one and
          // creates `go` once they are done, so that none runs beside the
          // timed passes
          val go = new java.io.File(opt("go"))
          while (!go.exists()) Thread.sleep(5)
          val exclusive = opt("exclusive").split(",").filter(_.nonEmpty).flatMap { group =>
            val gs = group.split("\\+"); gs.map(_ -> gs.head)
          }.toMap
          val run = new Run(spark, sessions, data, opt("gates").split(",").toIndexedSeq,
            exclusive, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1")
          val json = run.execute(setupS, sessionS, tablesS)
          if (run.tracer != null) run.tracer.writeSpans(new java.io.File(opt("spans")))
          write(out, json)
        }
        // the caller removes the run's scratch root; skip Spark's shutdown
        Runtime.getRuntime.halt(0)
    }
  }

  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def listGates(): String = {
    val groups = Seq(
      "Relational" -> graft.queries.Relational.queries,
      "Graph" -> graft.queries.Graph.queries,
      "Pipeline" -> graft.queries.Pipeline.queries,
      "Events" -> graft.queries.Events.queries)
    groups.map { case (g, qs) =>
      s"${str(g)}:[${qs.keys.toSeq.sorted.map(str).mkString(",")}]"
    }.mkString("{", ",", "}")
  }

  /** Order-insensitive digest of a result: row count plus the wrapping sum
    * of a 64-bit hash of each row's canonical text. Doubles print with
    * Java's shortest round-trip form and -0.0 as 0.0; maps sort by key.
    */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x1ce).toLong & 0xffffffffL)
      sum += h
    }
    f"${rows.length}:$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0.0" else d.toString
    case f: Float => if (f == 0.0f) "0.0" else f.toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}

/** One timed run: a cold pass over every gate in listed order, then a warm
  * phase of whole passes, each a seeded permutation of the gates: passes are
  * queued until `seconds` have gone by and at least [[Run.MinWarmPasses]]
  * passes were queued, so that every gate has a median of several warm
  * latencies and every gate weighs the same. The clients share one queue and
  * each takes the next gate when its previous one is done (closed loop), so
  * no client idles while another still holds queued work. A gate never
  * starts while another instance of it, or of a gate in its `exclusive`
  * group, is in flight (some gates write fixed catalog table names or share
  * a JVM-wide registry); a client then takes the first queued gate that is
  * free.
  */
final class Run(spark: SparkSession, sessions: Seq[SparkSession], data: String,
    gates: IndexedSeq[String], exclusive: Map[String, String], seed: Long, seconds: Double,
    trace: Boolean) {
  import Harness._

  private val fns = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private val clients = sessions.size
  /** In-flight gates, by their exclusive group's first gate. */
  private val inFlight = mutable.Set.empty[String]
  private def busy(g: String): Boolean = inFlight(exclusive.getOrElse(g, g))
  private val queue = mutable.ArrayBuffer.empty[String]
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val t0 = System.nanoTime()
  val tracer: Tracer = if (trace) new Tracer(spark, sessions, t0) else null

  private var queued = 0

  private def enqueue(order: IndexedSeq[String]): Unit = {
    queue ++= order
    queued += order.size
  }

  /** The next free gate, marked in flight, or None when the queue is empty.
    * While `refill()` holds, another pass is queued whenever no queued gate
    * is free; otherwise the client waits for one.
    */
  private def take(refill: () => Boolean): Option[String] = inFlight.synchronized {
    while (queue.forall(busy) && refill()) enqueue(rng.shuffle(gates))
    var i = queue.indexWhere(g => !busy(g))
    while (i < 0 && queue.nonEmpty) { inFlight.wait(); i = queue.indexWhere(g => !busy(g)) }
    if (i < 0) None
    else { val g = queue.remove(i); inFlight += exclusive.getOrElse(g, g); Some(g) }
  }

  private def release(g: String): Unit = inFlight.synchronized {
    inFlight -= exclusive.getOrElse(g, g)
    inFlight.notifyAll()
  }

  private def runOp(c: Int, gate: String, pass: String): Unit = {
    val sc = spark.sparkContext
    val session = sessions(c)
    val opId = if (tracer != null) tracer.opId() else 0L
    def phase(name: String): Unit = if (tracer != null) {
      sc.setLocalProperty("perfbench.op", opId.toString)
      sc.setLocalProperty("perfbench.phase", name)
      sc.setLocalProperty("perfbench.pass", pass)
    }
    val tStart = System.nanoTime()
    var tBuild, tPlan, tExec = tStart
    var rows: Array[Row] = null
    var error = ""
    try {
      phase("build")
      val df = fns(gate)(session, data)
      tBuild = System.nanoTime()
      phase("plan")
      df.queryExecution.executedPlan
      tPlan = System.nanoTime()
      phase("exec")
      rows = df.collect()
      tExec = System.nanoTime()
      if (tracer != null && pass == "cold") tracer.census(df.queryExecution.executedPlan)
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        val now = System.nanoTime()
        if (tBuild == tStart) tBuild = now
        if (tPlan == tStart) tPlan = now
        tExec = now
    } finally {
      phase("none")
    }
    val d = if (rows == null) "" else digest(rows)
    if (tracer != null) tracer.opSpans(opId, gate, pass, tStart, tBuild, tPlan, tExec)
    ops.add(Op(gate, c, pass, tStart - t0, (tBuild - tStart) / 1e9, (tPlan - tBuild) / 1e9,
      (tExec - tPlan) / 1e9, (tExec - tStart) / 1e9, d, error))
  }

  /** Runs the clients until the queue is empty and `refill()` fails. */
  private def phaseLoop(pass: String, refill: () => Boolean): (Long, Long) = {
    val start = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        // as any multi-session server does per request thread: code that
        // reads SQLConf.get outside Spark's own withActive (q239 reads
        // optimizedPlan.stats) must see this client's session
        SparkSession.setActiveSession(sessions(c))
        var next: Option[String] = None
        while ({ next = take(refill); next.isDefined })
          try runOp(c, next.get, pass) finally release(next.get)
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (start, System.nanoTime())
  }

  def execute(setupS: Double, sessionS: Double, tablesS: Double): String = {
    if (tracer != null) tracer.start()
    enqueue(gates)
    val codegen0 = Tracer.codegen()
    val (coldStart, coldEnd) = phaseLoop("cold", () => false)
    val codegen1 = Tracer.codegen()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (warmStart, warmEnd) = phaseLoop("warm",
      () => System.nanoTime() < deadline || queued < gates.size * (1 + Run.MinWarmPasses))
    // blocks of dropped broadcasts and checkpoints are freed by Spark's
    // ContextCleaner only after a GC finds their owners unreachable; let it
    // run, then collect what it released; the least heap in use after each
    // of a few such rounds
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val runEnd = System.nanoTime()
    val opsJson = ops.asScala.toSeq.sortBy(_.startNs).map { o =>
      s"""{"gate":${str(o.gate)},"client":${o.client},"pass":"${o.pass}",""" +
        s""""start_s":${o.startNs / 1e9},"build_s":${o.buildS},"plan_s":${o.planS},""" +
        s""""exec_s":${o.execS},"latency_s":${o.latencyS},"digest":"${o.digest}",""" +
        s""""error":${str(o.error)}}"""
    }.mkString("[", ",\n", "]")
    val layers = if (tracer == null) "null" else tracer.layers(
      gates.size, spark.sparkContext.defaultParallelism, sessionS, tablesS, (coldStart, coldEnd),
      (warmStart, warmEnd), runEnd, codegen1._1 - codegen0._1, codegen1._2 - codegen0._2)
    s"""{"setup_s":$setupS,"cold_pass_s":${(coldEnd - coldStart) / 1e9},""" +
      s""""warm_s":${(warmEnd - warmStart) / 1e9},"retained_heap_mb":$heapMb,""" +
      s""""layers":$layers,"ops":$opsJson}"""
  }
}

object Run {
  /** The workloads have 20 gates or more, so a run has 60 or more warm
    * operations and its 80th latency percentile ten or more beyond it.
    */
  val MinWarmPasses = 3
}
