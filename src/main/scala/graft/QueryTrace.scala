package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** What one query did: the routes its operators chose at run time (HyperCube
  * cells, broadcast or shuffle, salt factor), its driver-side phase times,
  * and the Spark work it caused.
  *
  * {{{
  *   val (n, trace) = QueryTrace.run(spark)(df.count())
  *   trace("wcoj.cells")          // "12": the LeapFrog join took the grid
  *   trace.spans                  // Seq("cycle1" -> 1.57, ...)
  *   trace.totals.jobs            // Spark jobs the body ran
  * }}}
  *
  * Attributes are strings, like the confs they replace; each is documented
  * where it is recorded (`wcoj.cells`, `wcoj.shares`, `wcoj.outputBound`,
  * `sim.ann`, `sim.route`, `sim.cellRoute`, `skew.saltFactor`,
  * `prefix.route`, `cand_corpus`, `cand_batch`, `rounds`). A key recorded
  * twice keeps the later value.
  *
  * A [[QueryTrace.run]] inside another also reports to every enclosing
  * trace still open: its Spark work counts there too and its records land
  * there too (a later record still wins); its spans stay its own.
  */
final class QueryTrace private (sc: SparkContext, private val id: String,
    outer: Option[QueryTrace]) {
  private val attrs = mutable.LinkedHashMap.empty[String, String]
  private val spanLog = mutable.ArrayBuffer.empty[(String, Double)]
  private val jobs, tasks, runMs, spilled, shuffled, peakExec = new AtomicLong
  @volatile private var open = true

  /** This trace and the traces around it, innermost first. */
  private def enclosing: List[QueryTrace] = this :: outer.fold(List.empty[QueryTrace])(_.enclosing)

  def apply(key: String): String = attrs.synchronized(attrs(key))
  def get(key: String): Option[String] = attrs.synchronized(attrs.get(key))
  def attributes: Seq[(String, String)] = attrs.synchronized(attrs.toList)

  /** Driver-side phases as (name, seconds), in the order they ended. */
  def spans: Seq[(String, Double)] = spanLog.synchronized(spanLog.toList)

  /** The Spark work of the jobs this trace's threads started. Listener
    * delivery is asynchronous, so a read first waits for the listener bus
    * to drain — here, not when [[QueryTrace.run]] returns, so a trace
    * nobody reads adds no wait to the body it wraps.
    */
  def totals: QueryTrace.Totals = {
    GraftSqlBridge.drainListenerBus(sc)
    QueryTrace.Totals(jobs.get, tasks.get, runMs.get / 1e3, spilled.get,
      shuffled.get, peakExec.get)
  }
}

object QueryTrace {

  /** `taskSeconds` is executor run time; `spilledBytes` is disk spill;
    * `shuffleBytes` is shuffle data written; `peakExecutionBytes` is the
    * largest per-task peak execution memory.
    */
  final case class Totals(jobs: Long, tasks: Long, taskSeconds: Double,
      spilledBytes: Long, shuffleBytes: Long, peakExecutionBytes: Long)

  /** The SparkContext local property that carries the current trace's id.
    * Spark copies local properties into the threads it starts from a
    * thread that has them (broadcast exchanges, a stream's micro-batch
    * thread), so their records and jobs land in the same trace.
    */
  private[graft] val Property = "graft.trace"

  /** Runs `body` under a fresh trace bound to the calling thread. A nested
    * call starts its own trace, which also reports to the enclosing ones
    * (see [[QueryTrace]]); the outer one resumes when it returns. After
    * return the trace takes no more records.
    */
  def run[T](spark: SparkSession)(body: => T): (T, QueryTrace) = {
    val sc = spark.sparkContext
    val trace = new QueryTrace(sc, java.util.UUID.randomUUID().toString, current(spark))
    listenerOf(sc).traces.put(trace.id, trace)
    val outer = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, trace.id)
    try (body, trace)
    finally {
      sc.setLocalProperty(Property, outer)
      trace.open = false
      // queued behind every event the body's jobs posted: the listener
      // counts those first, then forgets the trace
      GraftSqlBridge.postListenerEvent(sc, Closed(trace.id))
    }
  }

  /** Sets a route attribute on the calling thread's trace and the open ones around it. */
  def record(spark: SparkSession, key: String, value: Any): Unit =
    current(spark).foreach(_.enclosing.filter(_.open).foreach { t =>
      t.attrs.synchronized(t.attrs(key) = value.toString)
    })

  /** Times `body` as a phase of the calling thread's trace. */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    current(spark).foreach(t =>
      t.spanLog.synchronized(t.spanLog += name -> (System.nanoTime() - t0) / 1e9))
    out
  }

  /** Whether the calling thread records into a trace — for work done only
    * to be recorded.
    */
  def active(spark: SparkSession): Boolean = current(spark).isDefined

  /** Traces the listener still attributes events to (open, or closed with
    * events still queued).
    */
  private[graft] def registered(spark: SparkSession): Int =
    listeners.synchronized(Option(listeners.get(spark.sparkContext)))
      .fold(0)(_.traces.size)

  private def current(spark: SparkSession): Option[QueryTrace] = {
    val sc = spark.sparkContext
    Option(sc.getLocalProperty(Property)).flatMap { id =>
      listeners.synchronized(Option(listeners.get(sc)))
        .flatMap(l => Option(l.traces.get(id)))
    }.filter(_.open)
  }

  private final case class Closed(id: String) extends SparkListenerEvent

  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]()

  private def listenerOf(sc: SparkContext): Listener = listeners.synchronized {
    Option(listeners.get(sc)).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      listeners.put(sc, l)
      l
    }
  }

  /** Sums task metrics per trace: jobs by their local property, tasks by
    * the trace their stage was submitted under; each also into the traces
    * around that one the listener has not forgotten yet.
    */
  private final class Listener extends SparkListener {
    val traces = new ConcurrentHashMap[String, QueryTrace]()
    private val stages = mutable.Map.empty[Int, QueryTrace] // bus thread only

    private def traceOf(props: java.util.Properties): Option[QueryTrace] =
      Option(props).flatMap(p => Option(p.getProperty(Property)))
        .flatMap(id => Option(traces.get(id)))

    private def counted(t: QueryTrace): List[QueryTrace] =
      t.enclosing.filter(o => traces.containsKey(o.id))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      traceOf(e.properties).foreach(counted(_).foreach(_.jobs.incrementAndGet()))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      traceOf(e.properties).foreach(stages(e.stageInfo.stageId) = _)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.remove(e.stageInfo.stageId): Unit

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get(e.stageId).foreach(counted(_).foreach { t =>
        t.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          t.runMs.addAndGet(m.executorRunTime)
          t.spilled.addAndGet(m.diskBytesSpilled)
          t.shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          t.peakExec.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
        }
      })

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Closed(id) =>
        Option(traces.remove(id)).foreach(t => stages.filterInPlace((_, s) => s ne t))
      case _ => ()
    }
  }
}
