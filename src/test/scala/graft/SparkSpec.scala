package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared suite base: one lazy local session per suite (mirrors the
  * reference's SeccoFunSuite role, src/test/scala/util/SeccoFunSuite.scala:24).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
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

  /** Persisted RDDs in the block store, polled until async unpersists bring
    * the count to at most `expected` or about 4 s pass.
    */
  def storedRdds(expected: Int): Int = {
    def n(): Int = spark.sparkContext.getRDDStorageInfo.length
    var tries = 0
    while (n() > expected && tries < 40) { Thread.sleep(100); tries += 1 }
    n()
  }
}
