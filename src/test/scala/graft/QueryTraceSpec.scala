package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.commons.io.FileUtils

import graft.wcoj.WcojJoin

/** [[QueryTrace]]: a query's routes, phases and Spark work belong to that
  * query, not to the session or the JVM — so they stay correct when a
  * second query runs after it, beside it, or on a thread it started.
  */
class QueryTraceSpec extends SparkSpec {
  import spark.implicits._

  // A: near-complete digraph on 30 nodes, ~104 KB of routed payload: over
  // a 16 KB cap, so the exec takes the grid. B: one directed 3-cycle, 360 B
  // of payload and bound ≈ 5, so the exec takes one cell.
  private lazy val dense = (for { u <- 0 until 30; v <- 0 until 30; if u != v }
    yield (u.toLong, v.toLong)).toDF("src", "dst")
  private lazy val tiny = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  private def triangles(e: DataFrame): DataFrame =
    WcojJoin.join(spark, Seq(
        (e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b")),
        (e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c")),
        (e.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"))),
      Seq("a", "b", "c"))

  private def viaDataFrame(e: DataFrame): Set[(Long, Long, Long)] =
    e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(e.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"))
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

  private def rows(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("a", "b", "c").as[(Long, Long, Long)].collect().toSet

  private def withSmallCap[T](f: => T): T = withConf(Small.Key -> "16384")(f)

  test("(a) a later query on the session does not overwrite a trace") {
    withSmallCap {
      val (_, a) = QueryTrace.run(spark)(triangles(dense).count())
      val (_, b) = QueryTrace.run(spark)(triangles(tiny).count())
      assert(a("wcoj.cells").toInt > 1, "A took the grid")
      assert(b("wcoj.cells").toInt === 1, "B took one cell")
    }
  }

  test("(b) two queries at once on one session keep their own traces") {
    withSmallCap {
      val barrier = new CyclicBarrier(2)
      def traced(name: String, e: DataFrame) = {
        @volatile var out: (Set[(Long, Long, Long)], QueryTrace) = null
        val t = new Thread(() => out = QueryTrace.run(spark) {
          QueryTrace.span(spark, name) {
            barrier.await() // both traces are open before either join runs
            rows(triangles(e))
          }
        })
        t.start()
        (t, () => out)
      }
      val (ta, a) = traced("A", dense)
      val (tb, b) = traced("B", tiny)
      ta.join(); tb.join()
      val ((rowsA, traceA), (rowsB, traceB)) = (a(), b())
      assert(rowsA === viaDataFrame(dense) && rowsA.nonEmpty)
      assert(rowsB === viaDataFrame(tiny) && rowsB.size === 3)
      assert(traceA("wcoj.cells").toInt > 1)
      assert(traceB("wcoj.cells").toInt === 1)
      assert(traceA.spans.map(_._1) === Seq("A"))
      assert(traceB.spans.map(_._1) === Seq("B"))
    }
  }

  test("(c) a stream started inside a trace records its batches there") {
    val root = Files.createTempDirectory("trace_stream").toString
    try {
      val docs = Seq(
        1L -> "the quick brown fox jumps over the lazy dog again and again",
        2L -> "the quick brown fox jumps over the lazy dog again and again!",
        3L -> "an unrelated document about maritime trade routes and spice")
        .toDF("doc_id", "text")
      docs.write.parquet(s"$root/src")
      val (_, trace) = QueryTrace.run(spark) {
        val q = graft.streaming.DocStreams.ingestDedupStream(
          spark.readStream.schema(docs.schema).parquet(s"$root/src"),
          s"$root/store", s"$root/out", s"$root/ckpt", threshold = 0.5)
        try q.processAllAvailable() finally q.stop()
      }
      val names = trace.spans.map(_._1)
      Seq("b0_store_read", "b0_dedup", "b0_publish", "b0_sig_append")
        .foreach(n => assert(names.contains(n), n))
      // the dedup's candidate counts, kept apart per micro-batch
      assert(trace("b0_cand_batch").toDouble >= 1.0)
      assert(trace("b0_cand_corpus").toDouble === 0.0) // empty store
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("(d) after run returns: totals counted, nothing registered") {
    var late: Thread = null
    val (n, trace) = QueryTrace.run(spark) {
      // a nested run is its own trace; the outer one resumes after it
      val (_, inner) = QueryTrace.run(spark)(QueryTrace.record(spark, "k", "inner"))
      assert(inner("k") === "inner")
      QueryTrace.record(spark, "k", "outer")
      // built here, so it inherits this trace; started only after exit
      late = new Thread(() => {
        QueryTrace.record(spark, "late", 1)
        QueryTrace.span(spark, "late")(())
      })
      spark.range(100).repartition(2).count()
    }
    assert(n === 100L)
    assert(trace("k") === "outer")
    val totals = trace.totals
    assert(totals.jobs >= 1L && totals.tasks >= 1L && totals.taskSeconds >= 0.0)
    // the repartition writes every row through the shuffle
    assert(totals.shuffleBytes > 0L)
    assert(QueryTrace.registered(spark) === 0)
    assert(spark.sparkContext.getLocalProperty(QueryTrace.Property) === null)
    late.start(); late.join()
    assert(trace.get("late").isEmpty && trace.spans.isEmpty)
    // outside any trace, recording is a no-op
    QueryTrace.record(spark, "k", "none")
    assert(trace("k") === "outer")
  }

  test("(e) a nested run reports its records and Spark work to every enclosing trace") {
    var inner: QueryTrace = null
    val (_, outer) = QueryTrace.run(spark) {
      val (_, middle) = QueryTrace.run(spark) {
        inner = QueryTrace.run(spark) {
          QueryTrace.record(spark, "nested.only", "inner")
          spark.range(100).repartition(2).count()
        }._2
      }
      assert(middle("nested.only") === "inner")
      assert(middle.totals.jobs >= inner.totals.jobs)
    }
    assert(outer("nested.only") === "inner")
    val (o, i) = (outer.totals, inner.totals)
    assert(i.jobs >= 1L && o.jobs >= i.jobs && o.tasks >= i.tasks)
    assert(o.shuffleBytes >= i.shuffleBytes && i.shuffleBytes > 0L)
    assert(QueryTrace.registered(spark) === 0)
  }
}
