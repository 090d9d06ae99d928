package graft.operators

import graft.SparkSpec

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated 2-d blobs, ids interleaved across blobs so the
  // smallest-id init starts with one vector from each
  private lazy val blobs = Seq(
    (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(-10f, 5f)),
    (3L, Seq(0.5f, -0.5f)), (4L, Seq(10.5f, 9.5f)), (5L, Seq(-9.5f, 5.5f)),
    (6L, Seq(-0.5f, 0.5f)), (7L, Seq(9.5f, 10.5f)), (8L, Seq(-10.5f, 4.5f))
  ).toDF("vec_id", "embedding")

  test("kmeans recovers well-separated blobs") {
    val out = Clustering.kmeans(blobs, "embedding", "vec_id", k = 3, iters = 5)
      .as[(Long, Int)].collect().toMap
    assert(out(0L) === out(3L) && out(0L) === out(6L))
    assert(out(1L) === out(4L) && out(1L) === out(7L))
    assert(out(2L) === out(5L) && out(2L) === out(8L))
    assert(Set(out(0L), out(1L), out(2L)).size === 3)
  }

  test("kmeans is deterministic under repartitioning") {
    val a = Clustering.kmeans(blobs, "embedding", "vec_id", 3, 3)
      .as[(Long, Int)].collect().sorted.toSeq
    val b = Clustering.kmeans(blobs.repartition(7), "embedding", "vec_id", 3, 3)
      .as[(Long, Int)].collect().sorted.toSeq
    assert(a === b)
  }

  test("empty clusters keep their previous centroid") {
    // init takes ids 0 and 1 — both in the origin blob; every point is
    // closer to one of them than to... after round 1 centroid 1 may empty:
    // k=2 over points all at the origin except one far outlier at id 0's
    // position ensures cluster 1 (init = (0,0) dup) goes empty yet survives
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(0f, 0f)),
      (2L, Seq(1f, 1f)), (3L, Seq(2f, 2f))).toDF("vec_id", "embedding")
    val cents = Clustering.kmeansCentroids(df, "embedding", "vec_id", k = 2, iters = 3)
      .as[(Int, Int, Double)].collect()
    // cluster 1's centroid must still exist (kept from init), all pos present
    assert(cents.count(_._1 === 1) === 2)
    val out = Clustering.kmeans(df, "embedding", "vec_id", 2, 3)
      .as[(Long, Int)].collect().toMap
    assert(out.values.toSet.subsetOf(Set(0, 1)))
  }

  test("kmeans errors on ragged vectors instead of mis-clustering a prefix") {
    // the short vector would score ~0 on its missing dimensions and land
    // in the wrong cluster (corrupting the means) if scored truncated
    val ragged = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(5f))
    ).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Clustering.kmeans(ragged, "embedding", "vec_id", k = 2, iters = 2).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("dimension"))
  }

  test("kmeans scans its upstream once, not once per Lloyd round") {
    // the (vec_id, v) projection is pinned before the loop, so a lazy —
    // possibly non-deterministic — upstream cannot re-execute per round
    // (and cannot diverge between the fit and the returned assignment)
    val hits = spark.sparkContext.longAccumulator("upstream-evals")
    val tap = org.apache.spark.sql.functions.udf { (id: Long) => hits.add(1L); id }
    val tapped = blobs.withColumn("vec_id", tap($"vec_id"))
    Clustering.kmeans(tapped, "embedding", "vec_id", 3, 4).collect()
    // init collect + the single checkpoint materialization may each touch
    // every row, but four assign rounds + final collect must not rescan
    assert(hits.value <= 2L * blobs.count(),
      s"upstream evaluated ${hits.value} row-reads for ${blobs.count()} rows")
  }

  test("kmeansCentroids emits k x dim rounded long-form rows") {
    val cents = Clustering.kmeansCentroids(blobs, "embedding", "vec_id", 3, 3)
      .as[(Int, Int, Double)].collect()
    assert(cents.length === 3 * 2)
    assert(cents.map(_._2).toSet === Set(1, 2))
    // 6-decimal rounding: re-rounding is the identity
    assert(cents.forall(c => BigDecimal(c._3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble === c._3))
  }
}

class PqSpec extends SparkSpec {
  import spark.implicits._
  import Similarity.{Frame, Pq, topK}

  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = vecs.filter($"vec_id" < 5)

  test("pqTopK recall against exact L2 top-k on real embeddings") {
    import graft.functions.NativeExpressions.l2sqNative
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val pq = topK(queries, Frame(vecs), "embedding", "vec_id", k, code = Pq(m = 16))
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val exact = vecs.select($"vec_id", $"embedding".as("cv")).crossJoin(broadcast(q))
      .select($"query_id", $"vec_id", round(l2sqNative($"qv", $"cv"), 6).as("d"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy($"d".asc, $"vec_id".asc)))
      .filter($"rank" <= k)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val recalls = exact.keys.toSeq.map(qid =>
      (pq(qid) intersect exact(qid)).size.toDouble / k)
    val mean = recalls.sum / recalls.size
    // PQ is approximate; on this corpus 8x16 codebooks should land well
    // above chance (k/N = 10/500 = 0.02). The self-match (rank 1, dist 0
    // region) must always survive compression.
    assert(mean > 0.4, s"mean recall@10 too low: $mean")
    assert(exact.keys.forall(qid => pq(qid).contains(qid)), "self-match lost")
  }

  test("pqTopK is deterministic and emits exactly k ranked rows per query") {
    val a = topK(queries, Frame(vecs), "embedding", "vec_id", 5, code = Pq())
      .orderBy("query_id", "rank").collect().toSeq
    val b = topK(queries, Frame(vecs.repartition(13)), "embedding", "vec_id", 5,
      code = Pq())
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b)
    assert(a.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(3)).sorted == Seq(1, 2, 3, 4, 5)))
  }

  test("pqTopK rejects a dimension that does not split into subspaces") {
    val odd = Seq((0L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      topK(odd, Frame(odd), "embedding", "vec_id", 1, code = Pq(m = 2))
    }
  }

  test("pqTopK errors on ragged vectors instead of scoring a prefix") {
    // second candidate is shorter than the fitted dimension — truncated
    // subspace distances would make it a spurious perfect match
    val ragged = Seq(
      (0L, Seq.fill(8)(1f)), (1L, Seq.fill(4)(1f)), (2L, Seq.fill(8)(2f)))
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Seq.fill(8)(1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      topK(q, Frame(ragged), "embedding", "vec_id", 2,
          code = Pq(m = 2, codebook = 2))
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("dimension"))
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // two well-separated blobs; within blob A, id 3 is a positive scaling of
  // id 0 (cosine exactly 1) and id 6 points elsewhere; blob B likewise has
  // a scaled copy (4 of 1, norm kept comparable so L2-kmeans co-clusters it)
  private lazy val vecs = Seq(
    (0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 10f, 10f)),
    (3L, Seq(5f, 0f, 0f)), (4L, Seq(0f, 9f, 9f)),
    (6L, Seq(1f, 0.9f, 0f)), (7L, Seq(0f, 10f, 11f))
  ).toDF("vec_id", "embedding")

  test("scaled copies are dropped toward the lowest id; distinct directions kept") {
    val out = Dedup.semDedup(vecs, "embedding", "vec_id", k = 2, iters = 4,
      threshold = 0.95).as[(Long, Int, Boolean)].collect()
    assert(out.length === 6, "one row per input")
    val kept = out.filter(_._3).map(_._1).toSet
    assert(kept.contains(0L) && !kept.contains(3L), "3 is a scaled copy of 0")
    assert(kept.contains(1L) && !kept.contains(4L), "4 is a scaled copy of 1")
    assert(kept.contains(6L), "distinct direction in blob A survives")
  }

  test("threshold above 1 keeps everything; output is deterministic under repartition") {
    val all = Dedup.semDedup(vecs, "embedding", "vec_id", 2, 3, threshold = 1.01)
    assert(all.filter(!col("kept")).count() === 0)
    val a = Dedup.semDedup(vecs.repartition(7), "embedding", "vec_id", 2, 3, 0.95)
      .orderBy("vec_id").collect().toSeq
    val b = Dedup.semDedup(vecs.repartition(2), "embedding", "vec_id", 2, 3, 0.95)
      .orderBy("vec_id").collect().toSeq
    assert(a === b)
  }
}
