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
    * into every later suite.
    */
  def withConf[A](pairs: (String, String)*)(body: => A): A =
    SessionDefaults.withConf(spark, pairs: _*)(body)

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
