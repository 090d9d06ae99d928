package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys — the scale concern SURVEY §7.3 notes
  * the reference handles with its share optimizer, and stock Spark handles
  * only partially with AQE skew-join (sort-merge paths, size-based).
  *
  * One salted equi-join serves every surface with a hot key: the
  * cell/block-confined quadratic operators (IVF cell joins, SemDeDup's
  * in-cluster pairing, blocked embedding near-dup, edit-distance blocks on
  * Zipf-distributed first tokens) and the q128 hot-source join.
  * Confinement bounds TOTAL pair work at Σ|cell|², but a plain equi-join
  * on the cell key lands each cell's entire |cell|² in ONE task — and
  * nothing bounds |cell|: a dense embedding region or a boilerplate prefix
  * produces one giant cell whose pairing serializes the stage.
  */
private[graft] object Skew {

  /** The salt factor of a large input; a small one ([[graft.Small]])
    * takes 1: no key can be hot enough to matter, and the replicated rows
    * would be pure overhead.
    */
  val SaltFactor = 8

  /** Join types where replicating the right side is multiset-safe: an
    * unmatched RIGHT row would appear S times under right/full outer, so
    * those are rejected rather than silently wrong.
    */
  private val SafeJoinTypes =
    Set("inner", "left", "leftouter", "left_outer", "cross",
      "leftsemi", "left_semi", "semi", "leftanti", "left_anti", "anti")

  /** `left ⋈ right` on `keys`, with each hot key's work split across S
    * tasks: every left row carries the salt `hash(leftId) mod S` — a pure
    * function of the row, so a retried task assigns the same salts — the
    * right side is replicated S times, and the join key grows to
    * `keys :+ salt`. Each (l, r) pair still meets exactly once (on the left
    * row's own salt), so the output is row-identical to the plain join
    * (spec-asserted); only task boundaries move, a hot key now costing
    * |key|²/S per task. `leftId` should be (close to) unique: rows sharing
    * an id share a salt.
    *
    * `factor` > 0 is S as given; 0 decides it by size: 1 when every frame
    * in `routeOn` (default the join sides themselves) is small by
    * [[graft.Small.byEstimate]], else [[SaltFactor]]. `routeOn` names the
    * frames whose size decides: join sides are often post-join lineages
    * whose estimate is a byte product, so a 200-row assignment would look
    * like hundreds of MB; callers pass the true base frames (a parquet
    * scan's estimate is real). Either way S is the [[graft.QueryTrace]]
    * attribute `skew.saltFactor`; S = 1 replicates nothing.
    *
    * Both sides take an explicit-count repartition on the keys plus the
    * salt, at every factor: the per-pair work downstream is compute-bound
    * (a dim-length cosine or a banded edit-distance DP per candidate),
    * which AQE's size-based coalescing cannot see — a few MB of vectors or
    * a few hundred KB of keys would coalesce into one partition and
    * serialize the stage (edit-distance measured 2.6 s → 0.5 s at sf0.1
    * from this exchange). At S = 1 the salt is the constant 0 and still
    * part of the exchange key: Spark drops a repartition whose child is
    * already partitioned on the same keys (edit-distance's block-size
    * window is), and the window's own exchange is one AQE coalesces
    * (measured 1.5 s → 3.2 s at sf0.1 without the salt).
    *
    * @param left  the skewed side (salted per row)
    * @param right the replicated side (S× blow-up — keep it the smaller input)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftId: String, factor: Int = 0, joinType: String = "inner",
      routeOn: Seq[DataFrame] = Nil): DataFrame = {
    require(factor >= 0, s"saltedJoin: factor must be >= 0, got $factor")
    require(SafeJoinTypes.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin: joinType '$joinType' would emit unmatched right rows " +
        "once per salt; use inner/left/left_semi/left_anti (salt the other " +
        "side for right-skew)")
    val s =
      if (factor > 0) factor
      else if (graft.Small.byEstimate(
          (if (routeOn.nonEmpty) routeOn else Seq(left, right)): _*)) 1
      else SaltFactor
    graft.QueryTrace.record(left.sparkSession, "skew.saltFactor", s)
    val parts = left.sparkSession.sessionState.conf.numShufflePartitions
    val on = keys :+ "__salt"
    val l = left.withColumn("__salt", pmod(hash(col(leftId)), lit(s)))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(s - 1))))
    l.repartition(parts, on.map(col): _*)
      .join(r.repartition(parts, on.map(col): _*), on, joinType)
      .drop("__salt")
  }

  /** Top-k hot keys of a column by frequency — use to decide whether
    * salting is worth the replication (one pass, partial-agg'd).
    */
  def hotKeys(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n")).orderBy(col("n").desc).limit(k)
}
