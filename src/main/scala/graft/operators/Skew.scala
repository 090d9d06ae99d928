package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key-safe equi-join for the cell/block-confined quadratic surfaces
  * (IVF cell joins, SemDeDup's in-cluster pairing, blocked embedding
  * near-dup). Confinement bounds TOTAL pair work at Σ|cell|², but a plain
  * equi-join on the cell key lands each cell's entire |cell|² in ONE task —
  * and nothing bounds |cell|: a dense embedding region (near-dup-heavy
  * crawl, mode-collapsed synthetic data — exactly the corpora these
  * operators target) produces one giant cell whose pairing serializes the
  * stage. The text twin (Zipf-keyed prefix blocks) is handled in
  * [[Dedup.editDistanceNearDup]]; this is the same salt-replication
  * pattern factored for the vector paths.
  */
private[operators] object Skew {

  /** Measured-small inputs skip the S× replication (no cell can be hot
    * enough to matter and the extra shuffles are pure overhead); large or
    * unknown (→ Long.Max) Catalyst estimates salt at [[SaltFactor]].
    * 0 disables the small-route (forces salting) — the spec/ScaleCheck
    * hook.
    */
  val SaltBytesKey = "graft.skew.saltBytes"

  val SaltFactor = 8

  /** `left ⋈ right` on `keys`, with each hot key's quadratic work split
    * across [[SaltFactor]] tasks: every left row carries a deterministic
    * salt `hash(leftId) mod S`, the right side is replicated S times, and
    * the join key grows to `keys :+ salt` — each (l, r) pair still meets
    * exactly once (on the left row's own salt), so the output is
    * row-identical to the plain join (spec-asserted); only task boundaries
    * move, a hot cell now costing |cell|²/S per task.
    *
    * `routeOn` overrides which frames the measured-small decision reads:
    * the join sides are often post-join/post-crossJoin lineages whose
    * Catalyst size estimate is a byte PRODUCT (Spark's default join
    * estimation without CBO stats multiplies the sides), so a 200-row
    * assignment looks like hundreds of MB and would salt a trivially small
    * input. Callers pass the true base frames (a parquet scan's estimate
    * is real) — default: the join sides themselves.
    *
    * Both sides take an explicit-count repartition on the salted key: the
    * per-pair work downstream is compute-bound (a dim-length cosine per
    * candidate), which AQE's size-based coalescing cannot see — a few MB
    * of vectors would coalesce into one partition and re-serialize the
    * stage the salt just split (the [[Dedup.editDistanceNearDup]]
    * measurement: 2.6 s → 0.5 s from exactly this).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftId: String, routeOn: Seq[DataFrame] = Nil): DataFrame = {
    val s = factor(if (routeOn.nonEmpty) routeOn else Seq(left, right))
    withFactor(left, right, keys, leftId, s)
  }

  /** The measured-small route decision alone — for callers whose PLAIN
    * join has a better shape than `left.join(right, keys)` (e.g.
    * [[Similarity.mutualKnnIvf]]'s aliased self-join, whose two sides are
    * the identical subtree and share one exchange via ReusedExchange — a
    * rename into l/r projections would compute the assignment twice).
    * Records the factor as the [[graft.QueryTrace]] attribute
    * `skew.saltFactor` ("1" = plain join, or "8").
    */
  def factor(routeOn: Seq[DataFrame]): Int = {
    val spark = routeOn.head.sparkSession
    val cap = spark.conf.get(SaltBytesKey, (32L << 20).toString).toLong
    val small = cap > 0 && routeOn.forall(
      _.queryExecution.optimizedPlan.stats.sizeInBytes <= cap)
    val s = if (small) 1 else SaltFactor
    graft.QueryTrace.record(spark, "skew.saltFactor", s)
    s
  }

  /** The join construction for a precomputed [[factor]]. */
  def withFactor(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftId: String, s: Int): DataFrame = {
    if (s == 1) return left.join(right, keys)
    val spark = left.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val saltedKeys = (keys :+ "__salt").map(col)
    val l = left.withColumn("__salt", pmod(hash(col(leftId)), lit(s)))
      .repartition(parts, saltedKeys: _*)
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(s - 1))))
      .repartition(parts, saltedKeys: _*)
    l.join(r, keys :+ "__salt").drop("__salt")
  }
}
