package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

/** Two queries at once on one session. Each test runs one query that needs
  * a setting of its own (a small-input cap of 0, no broadcast, CBO
  * estimates, pinned state partitions, AQE off) on this thread, while a
  * second thread on the same session plans a probe query over and over and
  * reads the session conf. Every probe must see what it sees alone: the
  * query's setting stays with the query.
  */
class SharedSessionSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq(Small.Key, "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.cbo.enabled", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  /** The probe's size route, its physical plan (ids dropped) and the conf. */
  private def probe(): (Boolean, String, Map[String, Option[String]]) = {
    val small = spark.range(100).toDF("k")
    val plan = spark.range(1000).toDF("k").join(small, "k")
      .queryExecution.executedPlan.toString.replaceAll("(#|plan_id=)\\d+", "")
    (Small.byEstimate(small), plan, keys.map(k => k -> spark.conf.getOption(k)).toMap)
  }

  /** Runs `body` beside the probe; the shuffle width is set apart from the
    * 4 state partitions the stream gates pin.
    */
  private def besideProbe[A](body: => A): A =
    withConf("spark.sql.shuffle.partitions" -> "3") {
      val solo = probe()
      val (out, seen) = alongside(probe())(body)
      val off = seen.filterNot(_ == solo)
      assert(off.isEmpty, s"alone: $solo\nbeside the query: ${off.mkString("\n")}")
      out
    }

  private def gate(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("q186's zero cap stays with its triangle count") {
    val rows = besideProbe(gate("q186_wcoj_hypercube").collect())
    assert(rows.map(_.getAs[String]("route")).toSeq === Seq("hypercube"))
  }

  test("q200's zero cap stays with its ANN top-k") {
    val routes = besideProbe(gate("q200_ann_shuffle_route").select("route").as[String].collect())
    assert(routes.nonEmpty && routes.forall(_ == "shuffle"))
  }

  test("q230's no-broadcast join leaves the session's threshold") {
    val layouts = besideProbe(gate("q230_cobucket_join").select("layout").as[String].collect())
    assert(layouts.nonEmpty && layouts.forall(_ == "colocated"))
  }

  test("q239's CBO estimates leave the session's CBO off") {
    val rows = besideProbe(gate("q239_cbo_estimation")
      .select("est_defined", "within_band").as[(Boolean, Boolean)].collect())
    assert(rows.length === 2 && rows.forall(_ == ((true, true))))
  }

  test("q212's pinned state partitions leave the session's width") {
    val pairs = besideProbe(gate("q212_stream_interval_join").count())
    assert(pairs > 0)
  }

  test("an upsert's AQE-off merge leaves the session's AQE on") {
    val root = Files.createTempDirectory("shared_upsert").toString
    try {
      def upds(rows: (Long, Int, String)*) = rows.toDF("doc_id", "version", "text")
      besideProbe {
        streaming.DocStreams.upsertBatch(upds((1L, 1, "a1"), (2L, 1, "b1")),
          s"$root/t", "doc_id", "version", buckets = 4)
        streaming.DocStreams.upsertBatch(upds((2L, 2, "b2"), (3L, 1, "c1")),
          s"$root/t", "doc_id", "version", buckets = 4)
      }
      assert(spark.read.parquet(s"$root/t").select(col("doc_id"), col("version"))
        .as[(Long, Int)].collect().toSet === Set((1L, 1), (2L, 2), (3L, 1)))
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }
}
