package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryTrace, Small}
import graft.wcoj.WcojJoin
import Similarity.{Frame, Ivf}

/** One cap routes every size-routed operator: at `Small.Key` 0 each takes
  * its distributed route, at Long.MaxValue its single-task or broadcast
  * route, and the rows are the same either way.
  */
class SmallSpec extends graft.SparkSpec {
  import spark.implicits._

  private lazy val vecs: DataFrame = (0L until 60L).map { i =>
    (i, Seq((i % 7).toFloat / 7f, (i % 5).toFloat / 5f + 0.1f, (i % 3).toFloat / 3f))
  }.toDF("vec_id", "embedding")

  private lazy val rows = (1L to 200L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")

  private lazy val docs = (1L to 40L)
    .map(i => (i, s"tok${i % 4} tok${i % 6} tok${i % 9} tok${i % 2}"))
    .toDF("doc_id", "text")

  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")

  /** (route attribute or plan fact, rows) of each of the six calls. */
  private def routes(cap: String): Seq[(String, Set[Any])] = withConf(Small.Key -> cap) {
    def traced(attr: String)(df: => DataFrame): (String, Set[Any]) = {
      val (out, trace) = QueryTrace.run(spark)(df.collect().map(_.toSeq).toSet[Any])
      (trace(attr), out)
    }
    val q = vecs.filter(col("vec_id") < 4)
    val shingles = Dedup.shingleSet(docs, "text", "doc_id", 2)
    val spread = if (shingles.queryExecution.analyzed.toString.contains("RepartitionByExpression"))
      "spread" else "scan"
    Seq(
      traced("prefix.route")(
        Packing.groupedRowNumbers(rows, Seq("grp"), Seq("id"), 4)),
      traced("skew.saltFactor")(Skew.saltedJoin(
        rows.select(col("id"), col("grp")), rows.select(col("grp"), col("id").as("rid")),
        Seq("grp"), "id")),
      traced("sim.route")(Similarity.topK(q, Frame(vecs), "embedding", "vec_id", k = 3)),
      traced("sim.cellRoute")(Similarity.topK(q, Frame(vecs), "embedding", "vec_id",
        k = 3, Ivf(centroidMod = 20, probes = 2))),
      (spread, shingles.collect().map(_.toSeq).toSet[Any]), {
        val (cells, out) = traced("wcoj.cells")(WcojJoin.join(spark, Seq(
            (edges.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
            (edges.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
            (edges.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"))),
          Seq("a", "b", "c")))
        (if (cells.toInt > 1) "grid" else "one cell", out)
      })
  }

  test("Small.Key flips every size-routed operator's route; the rows stay identical") {
    val distributed = routes("0")
    val single = routes(Long.MaxValue.toString)
    assert(distributed.map(_._1) ===
      Seq("distributed", Skew.SaltFactor.toString, "shuffle", "salted", "scan", "grid"))
    assert(single.map(_._1) ===
      Seq("window", "1", "broadcast", "broadcast:estimate", "spread", "one cell"))
    distributed.zip(single).foreach { case ((route, a), (_, b)) =>
      withClue(s"$route: ")(assert(a === b))
      assert(a.nonEmpty)
    }
  }
}
