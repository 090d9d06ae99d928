package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketed interval-containment join: pair each left row (a point in time)
  * with every right row whose `[start, end]` interval contains it
  * (inclusive both ends) — sensor readings × maintenance windows, events ×
  * incident spans, trades × auction phases.
  *
  * Spark has no native range-join strategy: a raw `l.ts BETWEEN r.s AND
  * r.e` condition with no equality conjunct plans as a broadcast
  * nested-loop (or cartesian) — O(|L|·|R|) comparisons, a non-starter at
  * scale. The classic fix, used here: quantize time into fixed-width
  * buckets. Each point belongs to exactly ONE bucket; each interval is
  * exploded to the buckets it overlaps (⌈len/width⌉+1 rows). The join
  * becomes a plain hash equi-join on the bucket (+ any key columns), with
  * the exact containment predicate as a post-filter — and because a point
  * has one bucket, no pair can match twice, so no dedup pass is needed.
  *
  * Scale levers: `bucketWidthSeconds` trades explode factor (long intervals
  * over narrow buckets) against bucket skew (hot buckets under wide ones) —
  * set it near the median interval length. Hot buckets behave like any
  * skewed hash-join key: AQE skew split or [[Skew]] apply unchanged.
  *
  * `keyCols` (present in both inputs) are added to the join key for the
  * keyed variant (per-entity intervals), tightening buckets to per-key.
  */
object RangeJoin {

  def intervalJoin(left: DataFrame, leftTime: String,
      right: DataFrame, startCol: String, endCol: String,
      bucketWidthSeconds: Long, keyCols: Seq[String] = Nil): DataFrame = {
    require(bucketWidthSeconds > 0, "bucket width must be positive")
    val widthMicros = bucketWidthSeconds * 1000000L
    val l = left.withColumn("__bucket",
      floor(unix_micros(col(leftTime)) / widthMicros))
    val r = right.withColumn("__bucket",
      explode(sequence(floor(unix_micros(col(startCol)) / widthMicros),
        floor(unix_micros(col(endCol)) / widthMicros))))
    l.join(r, Seq("__bucket") ++ keyCols)
      .where(col(leftTime) >= col(startCol) && col(leftTime) <= col(endCol))
      .drop("__bucket")
  }
}
