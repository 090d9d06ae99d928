package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared suite base: one lazy local session per suite (mirrors the
  * reference's SeccoFunSuite role, src/test/scala/util/SeccoFunSuite.scala:24),
  * on the `file:` filesystem the engine ships ([[SessionDefaults.localFs]]).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .config(SessionDefaults.localFs.toMap)
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with each (key, value) set on the session, then gives each
    * key back its prior value, or unsets it if it had none. Every suite
    * shares one session in one JVM, so a conf a spec leaves set would leak
    * into every later suite. A key "had none" when it was not set
    * explicitly: `spark.conf.get` would return a registered key's default,
    * and writing that back would turn an unset key into a set one. This
    * writes the shared session conf, so it is for specs that run one query
    * at a time; the engine scopes a per-query setting to its query.
    */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prior = pairs.map { case (k, _) => k -> set.get(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` on this thread while a second thread evaluates `sample`
    * over and over, at least once, until `body` returns. Gives `body`'s
    * result and the distinct samples; a failed sample fails the call.
    */
  def alongside[A, B](sample: => B)(body: => A): (A, Set[B]) = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[B]()
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    @volatile var done = false
    val sampler = new Thread(() =>
      try {
        do { seen.add(sample); Thread.sleep(1) } while (!done)
      } catch { case t: Throwable => failed.set(t) })
    sampler.start()
    val out = try body finally { done = true; sampler.join() }
    Option(failed.get).foreach(t => throw t)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSet)
  }

  /** [[alongside]], sampling the session's value of each key (None: unset). */
  def sampledConf[A](keys: String*)(body: => A): (A, Set[Map[String, Option[String]]]) =
    alongside(keys.map(k => k -> spark.conf.getOption(k)).toMap)(body)

  /** Runs `body` and asserts that at most `keep` of the RDDs it persisted
    * (the pins a test means to hold on to) are still stored, polled for
    * about 4 s for the async unpersists. Ids, not a count: a pin an earlier
    * suite leaked, collected by a GC mid-test, would offset a new leak in
    * the count.
    */
  def releases[A](what: String, keep: Int = 0)(body: => A): A = {
    def stored() = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val baseline = stored()
    val out = body
    def left() = stored() -- baseline
    var tries = 0
    while (left().size > keep && tries < 40) { Thread.sleep(100); tries += 1 }
    assert(left().size <= keep, s"$what: RDDs ${left().mkString(", ")} still persisted")
    out
  }
}
