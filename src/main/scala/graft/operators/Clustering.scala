package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions

/** Distributed, deterministic Lloyd's k-means over an embedding column —
  * the centroid-training step behind IVF/PQ indexes and semantic-dedup
  * clustering.
  *
  * Determinism (so any engine computing the same recipe gets identical
  * clusters, which is what the DuckDB-oracle gate checks):
  *   - init: the vectors of the `k` smallest ids, cluster index = rank;
  *   - assign: squared L2 in index order (the codegen'd
  *     [[NativeExpressions.l2sqNative]]), ties broken toward the lowest
  *     cluster index;
  *   - update: per-dimension double means rounded to 6 decimals (the same
  *     engine-portable rounding as the centroid/quantize gates), empty
  *     clusters keep their previous centroid.
  *
  * Scale: the DATA is only ever scanned and aggregated — one codegen'd
  * assign pass (k fused L2 loops per row, centroids inlined as literals via
  * broadcast-sized arrays) and one map-side-combined groupBy per iteration.
  * Only the k×dim centroid table (model state, a few KB) ever reaches the
  * driver, once per iteration. No per-row UDFs, no N×k shuffle join.
  */
object Clustering {

  /** (vec_id, cluster) for every row — the assignment that fed the last
    * centroid update (`iters` assign+update rounds from the deterministic
    * init). Also see [[kmeansCentroids]].
    */
  def kmeans(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int): DataFrame =
    // the pin backs the returned assignment frame, so it is never released
    run(vectors(df, vecCol, idCol, k, iters).localCheckpoint(true), k, iters)._1

  /** Fit only: the final k centroids as driver-side arrays (model state —
    * a few KB — for callers that inline them into further expressions, e.g.
    * PQ codebooks).
    */
  def kmeansFit(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int): Array[Array[Double]] =
    graft.Pin.checkpointed(vectors(df, vecCol, idCol, k, iters))(run(_, k, iters)._2)

  /** Final centroids in long form: (cluster, pos, val) with `pos` 1-based
    * and `val` rounded to 6 decimals.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    kmeansFit(df, vecCol, idCol, k, iters).zipWithIndex.flatMap { case (c, ci) =>
      c.indices.map(p => (ci, p + 1, c(p)))
    }.toSeq.toDF("cluster", "pos", "val")
  }

  /** Cluster-outlier pruning — the embedding-curation step after [[kmeans]]
    * (the LAION/DataComp recipe prunes the points FARTHEST from their
    * cluster centroid as noise/mislabels, the mirror image of
    * [[Dedup.semDedup]]'s nearest-pair pruning): every vector is assigned
    * to its nearest final centroid, its squared-L2 distance standardized
    * against the WITHIN-cluster distance distribution, and points with
    * z > `zCut` flagged.
    *
    * Determinism end to end: the fitted centroids come from the
    * deterministic Lloyd recipe; assignment replays the 9-dp
    * round/lowest-index chain; the per-cluster mean and variance are
    * computed from exact nano-unit integer sums (decimal accumulators, the
    * [[Similarity.standardize]] rule) so both moments are order-free and
    * engine-identical; z is rounded once to 6 dp.
    *
    * Scale: one assign pass with centroid literals (no join), one
    * map-side-combined k-group aggregate, one broadcast join back — the
    * corpus shuffles nothing but the k-row stats table.
    *
    * @return (vec_id, cluster, dist, z, is_outlier) — dist the 9-dp
    *         squared L2 to the assigned centroid; σ = 0 clusters report
    *         z = 0 (never outliers).
    */
  def clusterOutliers(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int, zCut: Double = 2.0): DataFrame = {
    val cents = kmeansFit(df, vecCol, idCol, k, iters)
    val dim = cents.head.length
    val vecs = df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(assert_true(size(col("v")) === dim,
        lit(s"clusterOutliers: vector dimension must be $dim for every row")).isNull)
    val centsLit = array(cents.map(c => lit(c)): _*)
    val assigned = vecs
      .withColumn("cluster", element_at(
        NativeExpressions.pqCodesNative(col("v"), Seq(cents), 9), 1))
      .withColumn("dist", round(NativeExpressions.l2sqNative(col("v"),
        element_at(centsLit, col("cluster") + 1)), 9))
      .withColumn("__di", round(col("dist") * 1e9, 0).cast("long"))
    val stats = assigned.groupBy("cluster").agg(
      count(lit(1)).as("__n"),
      sum(col("__di").cast("decimal(38,0)")).as("__s1"),
      sum((col("__di").cast("decimal(38,0)") * col("__di").cast("decimal(38,0)")))
        .as("__s2"))
    assigned.join(broadcast(stats), "cluster" :: Nil)
      .withColumn("__mu", col("__s1").cast("double") / (lit(1e9) * col("__n")))
      .withColumn("__sigma", sqrt(greatest(lit(0.0),
        col("__s2").cast("double") / (lit(1e18) * col("__n"))
          - col("__mu") * col("__mu"))))
      .withColumn("z", when(col("__sigma") > 0.0,
        round((col("dist") - col("__mu")) / col("__sigma"), 6)).otherwise(0.0))
      .select(col("vec_id"), col("cluster"), col("dist"), col("z"),
        (col("z") > zCut).as("is_outlier"))
  }

  /** First principal direction (dominant right singular vector of the
    * uncentered data matrix) by DETERMINISTIC power iteration, plus the
    * per-row projection — the embedding-analysis primitive behind
    * variance probes, whitening, and 1-D semantic ordering.
    *
    * Each iteration is one distributed pass: s_i = round(xᵢ·v, 6) per row,
    * then y_j = Σᵢ xᵢⱼ·sᵢ with every term rounded to 6 dp and lifted ×1e6
    * to exact integers before the cross-row sum (order-free — the same
    * portability contract as the scoring operators). The normalizer is
    * computed from the integer vector too: ‖y‖ = √(Σ y_intⱼ²)/1e6 with the
    * square-sum in arbitrary precision, so not a single cross-row or
    * cross-dimension float accumulation depends on order anywhere.
    * v₀ = (1/√dim, …) rounded to 6 dp; updates round to 6 dp (scala
    * BigDecimal HALF_UP — bit-compatible with Spark's `round`).
    *
    * Scale: per iteration the data is scanned once (projection + one
    * map-side-combined groupBy over dim keys); only the dim-length
    * iterate (KBs) reaches the driver. Returns (vec_id, pc1) and the unit
    * direction.
    */
  def powerIterationPc1(df: DataFrame, vecCol: String, idCol: String,
      iters: Int): (DataFrame, Array[Double]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val pinned = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(true)
    val dim = pinned.select(size(col("v"))).head().getInt(0)
    val vecs = pinned.filter(assert_true(size(col("v")) === dim,
      lit(s"pc1: vector dimension must be $dim for every row")).isNull)

    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dotCol(v: Array[Double]): Column =
      round(aggregate(zip_with(col("v"), array(v.map(lit): _*), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x), 6)

    var vNow: Array[Double] = Array.fill(dim)(round6(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val yInt = new Array[Long](dim)
      vecs.withColumn("s", dotCol(vNow))
        .select(col("s"), posexplode(col("v")).as(Seq("pos0", "x")))
        .groupBy("pos0")
        // round-0 BEFORE the long cast: ×1e6 leaves the value an ulp off
        // the integer and a bare cast truncates toward zero
        .agg(sum(round(round(col("x") * col("s"), 6) * 1e6, 0).cast("long")).as("yi"))
        .collect().foreach(r => yInt(r.getInt(0)) = r.getLong(1))
      val sumSq = yInt.map(z => BigInt(z) * BigInt(z)).sum
      val nm = math.sqrt(sumSq.toDouble) / 1e6
      vNow = yInt.map(z => round6((z.toDouble / 1e6) / nm))
    }
    val proj = vecs.select(col("vec_id"), dotCol(vNow).as("pc1"))
    (proj, vNow)
  }

  /** (vec_id, v) — the frame the callers pin BEFORE anything reads it:
    * the init collect, every Lloyd round, and the returned assignment must
    * all see the same rows, and a non-deterministic upstream (sample/uuid)
    * re-evaluated between them would otherwise seed the fit with vectors
    * absent from the data.
    */
  private def vectors(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    df.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
  }

  /** Lloyd's rounds over `pinned`, a pinned [[vectors]] frame. */
  private def run(pinned: DataFrame, k: Int,
      iters: Int): (DataFrame, Array[Array[Double]]) = {
    // init: model state only — k vectors, not the dataset
    var centroids: Array[Array[Double]] = pinned.orderBy("vec_id").limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.length == k, s"need at least $k rows, got ${centroids.length}")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"kmeans: init vectors disagree on dimension (expected $dim)")

    // l2sqNative truncates to the shorter array, so a ragged/short vector
    // would score ~0 on its missing dimensions and silently land in the
    // wrong cluster (and corrupt the centroid means) — force every row to
    // the fitted dimension instead, same guard as Similarity.topK with Pq
    // (a codegen'd predicate over the pinned blocks, evaluated per scan)
    val vecs = pinned.filter(assert_true(size(col("v")) === dim,
      lit(s"kmeans: vector dimension must be $dim for every row")).isNull)

    def assignExpr: Column =
      // distances rounded to 9 decimals before comparison (engines agree on
      // the raw doubles to far better than 1e-9), ties toward the lowest
      // cluster index — PqCodes with a single subspace replicates the
      // round + array_position(array_min) chain bit-for-bit in one fused
      // pass, so codegen compile cost no longer scales with k
      element_at(NativeExpressions.pqCodesNative(
        col("v"), Seq(centroids), 9), 1)

    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = vecs.withColumn("cluster", assignExpr)
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos0", "x")))
        .groupBy("cluster", "pos0").agg(round(avg("x"), 6).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val next = centroids.map(_.clone()) // empty clusters keep previous
      means.foreach { case (c, p, m) => next(c)(p) = m }
      centroids = next
    }
    (assigned.select("vec_id", "cluster"), centroids)
  }
}
