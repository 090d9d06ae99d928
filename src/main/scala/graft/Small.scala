package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The one "is this input small?" test behind every size-routed operator.
  * A small input runs as one task or rides a broadcast; a large one takes
  * the distributed route. The size is Catalyst's estimate, the statistic
  * `spark.sql.autoBroadcastJoinThreshold` trusts: a parquet scan's is its
  * file bytes, and an unknown one reads as Long.MaxValue, the distributed
  * side. Each caller records the route it took under its own
  * [[QueryTrace]] attribute (`prefix.route`, `skew.saltFactor`,
  * `sim.route`, `sim.cellRoute`, `wcoj.cells`). The WCOJ join measures
  * its routed payload instead of estimating it and tests it with [[fits]].
  */
object Small {

  /** The byte cap, default 32 MB. 0 forces every distributed route. */
  val Key = "graft.singleTaskBytes"

  /** The calling thread's cap from [[withCap]], else the session's. */
  private[graft] def cap(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty(Key))
      .getOrElse(spark.conf.get(Key, (32L << 20).toString)).toLong

  /** Runs `body` with the cap at `bytes` for the queries the calling
    * thread runs, and for no other query on the session. The cap rides a
    * SparkContext local property, which Spark copies into the threads it
    * starts for those queries, as [[QueryTrace.run]] does with its trace.
    */
  private[graft] def withCap[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, bytes.toString)
    try body finally sc.setLocalProperty(Key, outer)
  }

  /** Whether a byte count the caller measured is within `cap`; never at 0. */
  private[graft] def fits(cap: Long, bytes: Long): Boolean = cap > 0 && bytes <= cap

  private def estimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether the estimate of every frame is at or under the cap. Without
    * CBO stats Spark estimates a join as the product of its sides, so a
    * post-join lineage reads huge: pass the base frames whose size decides.
    */
  def byEstimate(frames: DataFrame*): Boolean = {
    val c = cap(frames.head.sparkSession)
    c > 0 && frames.forall(estimate(_) <= c)
  }

  /** Whether `frame`, about to be broadcast, fits the cap, and which tier
    * said so. "estimate": `estimateFrom`'s estimate times `expansion` fits,
    * with no Spark job (`estimateFrom` is the base that `frame` expands,
    * `expansion`× its rows; a non-finite factor skips this tier).
    * "measured": one aggregation job over `frame`, counting actual array
    * lengths, fits. None: neither does.
    */
  def byMeasure(frame: DataFrame, estimateFrom: DataFrame,
      expansion: Double = 1.0): Option[String] = {
    val c = cap(frame.sparkSession)
    if (c <= 0) None
    else if (java.lang.Double.isFinite(expansion) &&
        estimate(estimateFrom).toDouble * expansion.max(1.0) <= c) Some("estimate")
    else if (fits(c, measuredBytes(frame))) Some("measured")
    else None
  }

  private def measuredBytes(df: DataFrame): Long = {
    val rowBytes = df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(FloatType, _) =>
          coalesce(size(col(f.name)), lit(0)).cast("long") * 4L + 16L
        case ArrayType(DoubleType, _) =>
          coalesce(size(col(f.name)), lit(0)).cast("long") * 8L + 16L
        case ArrayType(ArrayType(DoubleType, _), _) =>
          coalesce(size(flatten(col(f.name))), lit(0)).cast("long") * 8L + 32L
        case _ => lit(16L)
      }
    }.reduce(_ + _)
    df.agg(coalesce(sum(rowBytes), lit(0L)).as("b")).head().getLong(0)
  }

  /** Hash-repartitions a small batch input on `key` to
    * `spark.sql.shuffle.partitions`, ahead of a compute-heavy per-row stage
    * (tokenize, shingle, hash). A small parquet file is one split, so that
    * stage would run as one task, and AQE's size-based coalescing cannot
    * see per-row compute. Large or streaming inputs pass through: a large
    * input has many splits. Hash on a unique key, never round-robin: a
    * column-less repartition sorts every partition first (Spark's
    * retry-determinism rule), which cost the MinHash gates 26-58% at sf0.1.
    * The test reads the estimate, never `df.rdd`, which under AQE would run
    * any upstream shuffle just to count partitions.
    */
  def spread(df: DataFrame, key: String): DataFrame =
    if (df.isStreaming || !byEstimate(df)) df
    else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(key))
}
