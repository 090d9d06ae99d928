package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QueryTrace
import Similarity.{Frame, Ivf, Pq}

/** The hot-cell hazard in the confined quadratic surfaces: one dense IVF
  * cell / k-means cluster (a mode-collapsed or near-dup-heavy corpus puts
  * most vectors near one centroid) must not land its whole |cell|² pair
  * work in a single task. These specs drive the salted route on exactly
  * that corpus shape and assert BOTH halves of the contract: the result is
  * row-identical to the plain join, and the per-task candidate groups the
  * salt produces are bounded at ~|cell|/S.
  */
class SkewSaltSpec extends graft.SparkSpec {
  import spark.implicits._

  private def forcedSalt[A](f: => A): A =
    withConf(graft.Small.Key -> "0")(f)

  // one HOT cell: every vector points near +x, so the deterministic
  // centroid subset (ids ≡ 0 mod 100 → centroid 0 and 100) assigns
  // essentially everything to one cell — the corpus shape the confinement
  // paths are weakest on. Small angular jitter keeps cosines distinct.
  private lazy val hotCell: DataFrame = (0L until 240L).map { i =>
    val eps = (i % 97).toFloat / 2000f
    (i, Seq(1.0f, eps, (i % 13).toFloat / 3000f))
  }.toDF("vec_id", "embedding")

  test("saltedJoin is row-identical to the plain join on a one-hot-key input") {
    val l = hotCell.select(lit(0L).as("blk"), col("vec_id").as("id1"),
      col("embedding").as("v1"))
    val r = hotCell.select(lit(0L).as("blk"), col("vec_id").as("id2"),
      col("embedding").as("v2"))
    def run() = QueryTrace.run(spark)(Skew.saltedJoin(l, r, Seq("blk"), "id1")
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
    val plain = withConf(graft.Small.Key -> Long.MaxValue.toString) {
      val (out, trace) = run()
      assert(trace("skew.saltFactor") === "1")
      out
    }
    val salted = forcedSalt {
      val (out, trace) = run()
      assert(trace("skew.saltFactor") === Skew.SaltFactor.toString)
      out
    }
    assert(salted === plain)
    assert(plain.size === 240 * 240)
  }

  test("the explicit-count exchange survives a child already partitioned on the keys") {
    // Spark drops a repartition whose child is already hash-partitioned
    // the same way (here by a window, as edit-distance's block-size cap
    // does), leaving only an exchange AQE may coalesce to one task; the
    // salt in the exchange key keeps both explicit exchanges, at S = 1 too
    val l = hotCell.select(col("vec_id").as("id1"), (col("vec_id") % 5).as("blk"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("blk")))
    val r = hotCell.select(col("vec_id").as("id2"), (col("vec_id") % 5).as("blk"))
    val df = Skew.saltedJoin(l, r, Seq("blk"), "id1", factor = 1)
    assert(df.count() === 240L * 48)
    val plan = df.queryExecution.executedPlan.toString
    assert("REPARTITION_BY_NUM".r.findAllIn(plan).size === 2, plan)
  }

  test("the salt bounds per-task candidates: every (key, salt) group ≤ ~|cell|/S") {
    // the join hash-partitions on (keys, salt), so one (key, salt) group's
    // pair work is one task's work; replicate the deterministic salt rule
    // and assert no group hoards the hot cell
    val groups = hotCell
      .select(pmod(hash(col("vec_id")), lit(Skew.SaltFactor)).as("salt"))
      .groupBy("salt").count().as[(Int, Long)].collect().toMap
    assert(groups.size === Skew.SaltFactor,
      s"expected all ${Skew.SaltFactor} salts populated, got ${groups.keySet}")
    val maxGroup = groups.values.max
    assert(maxGroup <= 240 / Skew.SaltFactor * 2,
      s"one salt group hoards $maxGroup of 240 rows — the split is not even")
  }

  test("mutualKnnIvf on a hot-cell corpus: salted route, result identical to plain") {
    val plain = withConf(graft.Small.Key -> Long.MaxValue.toString) {
      Similarity.mutualKnnIvf(hotCell, "embedding", "vec_id", k = 3)
        .as[(Long, Long, Double)].collect().toSet
    }
    val salted = forcedSalt {
      val (out, trace) = QueryTrace.run(spark)(Similarity.mutualKnnIvf(
        hotCell, "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet)
      assert(trace("skew.saltFactor") === Skew.SaltFactor.toString)
      out
    }
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("semDedup on a hot-cluster corpus: salted route, verdicts identical to plain") {
    // k = 2 clusters over a corpus that is one semantic mode: nearly all
    // rows share a cluster, the exact shape SemDeDup exists for
    val plain = withConf(graft.Small.Key -> Long.MaxValue.toString) {
      Dedup.semDedup(hotCell, "embedding", "vec_id", k = 2, iters = 2,
        threshold = 0.9999).as[(Long, Int, Boolean)].collect().toSet
    }
    val salted = forcedSalt {
      Dedup.semDedup(hotCell, "embedding", "vec_id", k = 2, iters = 2,
        threshold = 0.9999).as[(Long, Int, Boolean)].collect().toSet
    }
    assert(salted === plain)
    assert(plain.exists(!_._3), "the near-dup-heavy corpus must drop rows")
    assert(plain.exists(_._3), "the keeper per near-dup set must survive")
  }

  test("ivf cell join: broadcast-small probes broadcast; over-budget probes salt") {
    val q = hotCell.filter(col("vec_id") < 5)
    def run() = QueryTrace.run(spark)(Similarity.topK(q, Frame(hotCell),
        "embedding", "vec_id", k = 4, Ivf(centroidMod = 100, probes = 2))
      .select("query_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet)
    val (viaBroadcast, bcast) = run()
    assert(bcast("sim.cellRoute").startsWith("broadcast"))
    val viaSalt = forcedSalt {
      val (out, trace) = run()
      assert(trace("sim.cellRoute") === "salted")
      assert(trace("skew.saltFactor") === Skew.SaltFactor.toString)
      out
    }
    assert(viaSalt === viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("ivfPqTopK survives the salted route bit-identically") {
    val e = (0L until 128L).map { i =>
      (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    def run() = QueryTrace.run(spark)(Similarity.topK(q, Frame(e), "embedding",
        "vec_id", k = 5, Ivf(centroidMod = 50, probes = 2),
        Pq(m = 4, codebook = 8, iters = 2))
      .as[(Long, Long, Double, Int)].collect().toSet)
    val (viaBroadcast, _) = run()
    val viaSalt = forcedSalt {
      val (out, trace) = run()
      assert(trace("sim.cellRoute") === "salted")
      out
    }
    assert(viaSalt === viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("PQ cell join never trusts the tier-1 estimate for its ADC-table broadcast") {
    // each exploded probe row swaps its raw vector for an m×codebook ADC
    // table the base frame's Catalyst estimate says NOTHING about — so a
    // broadcast on the PQ path must always come from the exact measuring
    // scan (route "broadcast:measured"), never from the unscalable
    // estimate ("broadcast:estimate"), however generous the budget
    val e = (0L until 128L).map { i =>
      (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val (n, trace) = QueryTrace.run(spark)(Similarity.topK(q, Frame(e),
      "embedding", "vec_id", k = 5, Ivf(centroidMod = 50, probes = 2),
      Pq(m = 4, codebook = 8, iters = 2)).count())
    assert(n > 0)
    assert(trace("sim.cellRoute") === "broadcast:measured")
  }

  test("embeddingNearDup pair set is salt-invariant on a single hot block") {
    val blocked = hotCell.withColumn("blk", lit(1L))
    def run() = Dedup.embeddingNearDup(blocked, "embedding", "vec_id",
      "blk", threshold = 0.999).as[(Long, Long, Double)].collect().toSet
    val plain = withConf(graft.Small.Key -> Long.MaxValue.toString)(run())
    val salted = forcedSalt(run())
    assert(salted === plain)
    assert(plain.nonEmpty)
  }
}
