package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and Spark events of a traced run, kept in memory until the end.
  *
  * Spans sit at the benchmark's own boundaries: run > pass (cold, warm) >
  * operation > build / plan / exec; the spans of one operation share its id.
  * Spark jobs, stages and tasks are attributed to the operation's pass and
  * phase through the local properties the client thread sets before each
  * phase, which stay correct with several clients on one SparkContext.
  *
  * Counts (jobs, tasks, bytes, plan nodes, stream batches, compiles) are taken
  * over the cold pass, which runs every gate exactly once. Times are taken
  * over the warm phase and scaled to one pass of the workload's gates.
  */
final class Tracer(spark: SparkSession, sessions: Seq[SparkSession], t0: Long) {
  import Tracer._

  private val ids = new AtomicLong(10)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val plans = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val events = new Events
  private val streams = new Streams

  def opId(): Long = ids.getAndIncrement()

  def start(): Unit = {
    spark.sparkContext.addSparkListener(events)
    sessions.foreach(_.streams.addListener(streams))
  }

  def opSpans(op: Long, gate: String, pass: String, start: Long, built: Long,
      planned: Long, end: Long): Unit = {
    spans.add(Span(op, if (pass == "cold") ColdId else WarmId, op, gate, start, end))
    spans.add(Span(ids.getAndIncrement(), op, op, "build", start, built))
    spans.add(Span(ids.getAndIncrement(), op, op, "plan", built, planned))
    spans.add(Span(ids.getAndIncrement(), op, op, "exec", planned, end))
  }

  /** Census of the executed plan's nodes, through AQE stages and subqueries. */
  def census(plan: SparkPlan): Unit = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val found = nodes(plan)
    plans.synchronized {
      found.foreach {
        case p if p.getClass.getSimpleName.startsWith("LeapFrog") => plans("op.leapfrog_nodes") += 1
        case _: BroadcastHashJoinExec => plans("op.bhj_nodes") += 1
        case _: ShuffledHashJoinExec => plans("op.shj_nodes") += 1
        case _: SortMergeJoinExec => plans("op.smj_nodes") += 1
        case _: Exchange => plans("op.exchange_nodes") += 1
        case _ => ()
      }
    }
  }

  def layers(gates: Int, cores: Int, sessionS: Double, tablesS: Double,
      cold: (Long, Long), warm: (Long, Long), runEnd: Long, compiles: Long,
      compileNs: Long): String = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.add(Span(RunId, 0, 0, "run", t0, runEnd))
    spans.add(Span(ColdId, RunId, 0, "pass.cold", cold._1, cold._2))
    spans.add(Span(WarmId, RunId, 0, "pass.warm", warm._1, warm._2))
    val all = spans.asScala.toSeq
    val warmOps = all.filter(_.parent == WarmId)
    val perPass = gates.toDouble / warmOps.size.max(1)
    val warmWallS = (warm._2 - warm._1) / 1e9
    val opIds = warmOps.map(_.id).toSet
    def phaseTotal(name: String): Double =
      all.filter(s => s.name == name && opIds(s.parent)).map(dur).sum
    val c = events.stats("cold")
    val w = events.stats("warm")
    val m = mutable.LinkedHashMap[String, Double](
      "setup.session_s" -> sessionS,
      "setup.tables_s" -> tablesS,
      "build.s" -> phaseTotal("build") * perPass,
      "build.jobs" -> events.buildJobs.toDouble,
      "plan.s" -> phaseTotal("plan") * perPass,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileNs / 1e9,
      "sched.jobs" -> c.jobs.toDouble,
      "sched.stages" -> c.stages.toDouble,
      "sched.tasks" -> c.tasks.toDouble,
      "sched.ms_per_job" -> w.jobMs / w.jobs.max(1),
      "sched.delay_s" -> w.delayMs / 1e3 * perPass,
      "exec.s" -> phaseTotal("exec") * perPass,
      "exec.task_s" -> w.runMs / 1e3 * perPass,
      "exec.cpu_util" -> w.runMs / 1e3 / (cores * warmWallS),
      "exec.gc_s" -> w.gcMs / 1e3 * perPass,
      "exec.rows" -> c.rows.toDouble,
      "io.scan_mb" -> c.scanBytes / MB,
      "io.shuffle_mb" -> c.shuffleBytes / MB,
      "io.write_mb" -> c.writeBytes / MB,
      "io.spill_mb" -> c.spillBytes / MB,
      "io.peak_exec_mem_mb" -> c.peakExecMem / MB)
    Seq("op.leapfrog_nodes", "op.bhj_nodes", "op.shj_nodes", "op.smj_nodes",
      "op.exchange_nodes").foreach(k => m(k) = plans(k).toDouble)
    val warmEpochMs = System.currentTimeMillis() - (System.nanoTime() - warm._1) / 1000000
    val (sw, sc) = streams.batches.asScala.toSeq.partition(_._1 >= warmEpochMs)
    def streamS(key: String): Double = sw.map(_._2.getOrElse(key, 0L)).sum / 1e3 * perPass
    m("stream.batches") = sc.size.toDouble
    m("stream.add_batch_s") = streamS("addBatch")
    m("stream.wal_commit_s") = streamS("walCommit")
    m("stream.planning_s") = streamS("queryPlanning")
    m("storage.block_mb_peak") = events.blockPeak / MB
    val runSpan = all.find(_.id == RunId).get
    m("self.run_s") = (dur(runSpan) - (cold._2 - cold._1) / 1e9 - warmWallS)
    m("self.pass_s") = (warmWallS - union(warmOps)) * perPass
    m.map { case (k, v) => s"${Harness.str(k)}:$v" }.mkString("{", ",", "}")
  }

  def writeSpans(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Harness.str(s.name)},""" +
        s""""start_s":${(s.start - t0) / 1e9},"end_s":${(s.end - t0) / 1e9}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

  val RunId = 1L
  val ColdId = 2L
  val WarmId = 3L
  val MB = 1048576.0

  def dur(s: Span): Double = (s.end - s.start) / 1e9

  /** Wall time covered by a set of possibly overlapping spans. */
  def union(spans: Seq[Span]): Double = {
    var covered, end = 0L
    var first = true
    spans.sortBy(_.start).foreach { s =>
      if (first || s.start > end) { covered += s.end - s.start; end = s.end; first = false }
      else if (s.end > end) { covered += s.end - end; end = s.end }
    }
    covered / 1e9
  }

  /** Janino compilations so far in this JVM and their total time in ns. */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  final class Stats {
    var jobs, stages, tasks, rows = 0L
    var jobMs, delayMs, runMs, gcMs = 0.0
    var scanBytes, shuffleBytes, writeBytes, spillBytes, peakExecMem = 0.0
  }

  /** Spark scheduler and storage events; every callback runs on the
    * listener-bus thread, so plain maps suffice.
    */
  final class Events extends SparkListener {
    val stats = mutable.Map.empty[String, Stats].withDefault(_ => new Stats)
    var buildJobs = 0L
    var blockPeak, blockTotal = 0.0
    private val jobPass = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSubmit = mutable.Map.empty[Int, Long]
    private val blocks = mutable.Map.empty[String, Double]

    private def of(pass: String): Stats = stats.getOrElseUpdate(pass, new Stats)
    private def stagePass(stage: Int): String =
      stageJob.get(stage).flatMap(jobPass.get).getOrElse("none")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val pass = props.map(_.getProperty("perfbench.pass", "none")).getOrElse("none")
      jobPass(e.jobId) = pass
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
      of(pass).jobs += 1
      if (pass == "cold" && props.exists(_.getProperty("perfbench.phase") == "build"))
        buildJobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(t => of(jobPass(e.jobId)).jobMs += e.time - t)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      stageSubmit(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
      of(stagePass(info.stageId)).stages += 1
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageSubmit.get(e.stageId).foreach { t =>
        of(stagePass(e.stageId)).delayMs += (e.taskInfo.launchTime - t).max(0L)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = of(stagePass(e.stageId))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.rows += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.writeBytes += m.outputMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.peakExecMem = s.peakExecMem.max(m.peakExecutionMemory.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      val size = if (info.storageLevel.isValid) (info.memSize + info.diskSize).toDouble else 0.0
      val id = info.blockId.name
      blockTotal += size - blocks.getOrElse(id, 0.0)
      if (size == 0.0) blocks.remove(id) else blocks(id) = size
      blockPeak = blockPeak.max(blockTotal)
    }
  }

  /** Streaming progress: (trigger start epoch ms, phase durations in ms) for
    * every trigger that ran a batch.
    */
  final class Streams extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        batches.add(java.time.Instant.parse(p.timestamp).toEpochMilli -> d)
    }
  }
}
