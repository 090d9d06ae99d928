package graft

import org.apache.spark.sql.functions.lit

import graft.api.{EngineDataFrame, EngineSession}
import graft.graph.PropertyGraph

class RoundsSpec extends SparkSpec {

  test("every iterative loop runs a pinned number of Spark jobs per round") {
    import spark.implicits._
    // (rounds, jobs) of `body`: the rounds its loop recorded in the trace
    // and the Spark jobs it ran, its final action included
    def traced(body: => Long): (Int, Long) = {
      val (_, t) = QueryTrace.run(spark)(body)
      (t("rounds").toInt, t.totals.jobs)
    }
    val g = PropertyGraph(Seq(1L, 2L, 3L, 4L).toDF("id"),
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (4L, 1L)).toDF("src", "dst"))
    def path(n: Long) =
      PropertyGraph.fromEdges((1L until n).map(i => (i, i + 1)).toDF("src", "dst"))
    val one = EngineSession(spark).createDatasetFromSparkSQL(Seq(1L).toDF("x"))
    def upTo(cap: Long)(d: EngineDataFrame) =
      d.copy(df = d.df.selectExpr(s"least(x + 1, ${cap}L) AS x"))
    def indegree(rounds: Int) =
      g.messagePassing("1", "sum(msg)", "coalesce(newState, 0)", Some("0"), rounds).count()
    // loop -> jobs for r rounds, and two runs as (rounds expected, run)
    val pins: Seq[(String, Int => Int, Seq[(Int, () => Long)])] = Seq(
      ("pageRank", r => 5 + 5 * r,
        Seq(2 -> (() => g.pageRank(2).count()), 5 -> (() => g.pageRank(5).count()))),
      ("personalizedPageRank", r => 5 + 5 * r,
        Seq(2 -> (() => g.personalizedPageRank(2, Seq(1L)).count()),
          5 -> (() => g.personalizedPageRank(5, Seq(1L)).count()))),
      ("messagePassing", r => 4 + 4 * r,
        Seq(1 -> (() => indegree(1)), 3 -> (() => indegree(3)))),
      ("labelPropagation", r => 4 + 6 * r,
        Seq(2 -> (() => g.labelPropagation(2).count()), 4 -> (() => g.labelPropagation(4).count()))),
      ("connectedComponents, plain", r => 6 + 6 * r,
        Seq(4 -> (() => path(16).connectedComponents(4, pointerJump = false).count()),
          8 -> (() => path(16).connectedComponents(8, pointerJump = false).count()))),
      // three plain rounds, then one extra join per jumping round
      ("connectedComponents, jumping", r => 6 + 6 * 3 + 10 * (r - 3),
        Seq(4 -> (() => path(32).connectedComponents(4).count()),
          7 -> (() => path(32).connectedComponents().count()))),
      ("sssp", r => 4 + 6 * r,
        Seq(3 -> (() => path(8).sssp(lit(1L), maxIterations = 3).count()),
          8 -> (() => path(8).sssp(lit(1L)).count()))),
      // a path peels its two ends per round, and one more round sees no change
      ("kCore", r => 7 + 3 * r,
        Seq(5 -> (() => path(8).kCore(2).count()), 7 -> (() => path(12).kCore(2).count()))),
      ("iterate", r => 2 + r,
        Seq(3 -> (() => one.iterate(3)(upTo(9)).count()), 6 -> (() => one.iterate(6)(upTo(9)).count()))),
      ("iterateToFixpoint", r => 3 + 7 * r,
        Seq(3 -> (() => one.iterateToFixpoint(20)(upTo(3)).count()),
          6 -> (() => one.iterateToFixpoint(20)(upTo(6)).count()))))
    for ((loop, jobsFor, runs) <- pins; (expected, run) <- runs) {
      val (rounds, jobs) = traced(run())
      assert(rounds === expected, loop)
      assert(jobs === jobsFor(rounds), s"$loop: $jobs jobs for $rounds rounds")
    }
  }

  test("a failing round releases the loop's checkpoints, never the caller's frame") {
    import spark.implicits._
    val init = Seq(1L, 2L).toDF("x").localCheckpoint(true)
    val e = releases("Rounds.run") {
      intercept[IllegalStateException] {
        Rounds.run(init, maxRounds = 10, pinInit = true) { (d, i) =>
          if (i == 3) throw new IllegalStateException("round 3 failed")
          d.selectExpr("x + 1 AS x")
        }
      }
    }
    assert(e.getMessage === "round 3 failed")
    // a released checkpoint cannot be read again; the caller's still can
    assert(init.count() === 2L)
  }
}
