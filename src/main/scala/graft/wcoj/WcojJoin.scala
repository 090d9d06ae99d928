package graft.wcoj

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed worst-case-optimal multiway join (SURVEY §7.5 step (b)): the
  * reference's PullPairExchange + LeapFrogJoin path as ONE Catalyst operator,
  * [[LeapFrogJoinExec]] — a HyperCube/Shares shuffle with budgeted,
  * skew-aware shares (or a single co-located cell when inputs and the
  * estimated output are measured small), then LeapFrog enumeration per cell.
  * [[WcojJoin.join]] is the one entry point and builds that node; there is
  * no second executor.
  */
object WcojJoin {

  /** The worst-case-optimal natural join of `relations` (each a frame and
    * the attributes it joins on), one output row per distinct binding of
    * `attrOrder`. It builds a [[LeapFrogJoinPlan]] logical node, planned by
    * [[WcojStrategy]] into [[LeapFrogJoinExec]], so the operator shows in
    * `.explain()` and composes with Catalyst like any built-in; the strategy
    * is registered on the session on first use (also installable via
    * GraftExtensions).
    *
    * Join attributes may be any atomic type. An attribute whose every
    * occurrence is integral is cast straight to a trie key (LongType in the
    * output). Every other attribute goes through one dictionary per key
    * type: the distinct values across all relations carrying attributes of
    * that type, ranked by one range shuffle + zipWithIndex (the dedup token
    * dictionary's shape: no single-task global window, no driver
    * materialization), so a string-keyed cyclic join keeps the
    * worst-case-optimal runtime at any scale. Codes are dense 1..|domain|
    * longs, collision-free, and the bindings are decoded back to the
    * original values. Attributes whose occurrences fail
    * [[attrOccurrencesEligible]] are refused.
    *
    * A NULL join value never matches: the encode join drops it for a
    * dictionary attribute, the trie-key filter for an integral one.
    */
  def join(spark: SparkSession, relations: Seq[(DataFrame, Seq[String])],
      attrOrder: Seq[String]): DataFrame = {
    require(relations.nonEmpty)

    def dtypeOf(df: DataFrame, a: String) = df.schema(a).dataType
    // an attribute keeps the fast direct-cast path only when every relation
    // carrying it is integral; otherwise all its occurrences go through one
    // shared dictionary (they must agree on type — codes must mean the same
    // value everywhere)
    val attrTypes: Map[String, Seq[org.apache.spark.sql.types.DataType]] =
      attrOrder.map { a =>
        a -> relations.collect { case (df, attrs) if attrs.contains(a) => dtypeOf(df, a) }
      }.toMap
    val needDict =
      attrOrder.filter(a => attrTypes(a).exists(t => !IntegralKeyTypes.contains(t))).toSet
    attrOrder.foreach { a =>
      require(attrOccurrencesEligible(attrTypes(a)),
        s"WcojJoin.join: attribute $a has conflicting or non-atomic types ${attrTypes(a).distinct.mkString(", ")}")
    }
    if (needDict.isEmpty) return onLongs(spark, relations, attrOrder)

    // ONE shared dictionary per key dtype, not one per attribute: codes
    // only need to mean the same value everywhere, so attributes of the
    // same type can share — and in the common pattern-matching case
    // (triangle/cycle over one edge table) the per-attribute domains
    // overlap almost entirely, so separate dictionaries would re-sort the
    // same values once per attribute (measured: 3 sort+zipWithIndex rounds
    // for a string triangle where 1 suffices). The RDD (not the DataFrame)
    // is persisted: it feeds one encode join per carrying relation plus
    // the decode join, and RDD-level persistence is tracked by the context
    // cleaner, so the blocks are reclaimed once the result and
    // dictionaries become unreachable — a DataFrame-level persist would
    // pin them in the CacheManager for the application lifetime.
    val dictByType: Map[org.apache.spark.sql.types.DataType, DataFrame] =
      needDict.groupBy(a => attrTypes(a).head).map { case (dt, attrs) =>
        val vals = relations.collect { case (df, rAttrs) if rAttrs.exists(attrs) =>
          rAttrs.filter(attrs).map(a =>
            df.select(col(a).as("__val")).filter(col("__val").isNotNull))
        }.flatten.reduce(_ union _).distinct().orderBy("__val")
        val withId = vals.rdd.zipWithIndex().map { case (r, i) => Row(r.get(0), i + 1L) }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dict = spark.createDataFrame(withId, StructType(Seq(
          StructField("__val", dt), StructField("__code", LongType, nullable = false))))
        dt -> dict
      }
    val dicts: Map[String, DataFrame] =
      needDict.iterator.map(a => a -> dictByType(attrTypes(a).head)).toMap

    val encoded = relations.map { case (df, attrs) =>
      val enc = attrs.filter(needDict).foldLeft(df) { (d, a) =>
        d.join(dicts(a).select(col("__val").as(a), col("__code").as(s"__graft_c_$a")),
            Seq(a), "inner")
          .drop(a).withColumnRenamed(s"__graft_c_$a", a)
      }
      (enc.select(attrs.map(col): _*), attrs)
    }

    val joined = onLongs(spark, encoded, attrOrder)
    val decoded = attrOrder.filter(needDict).foldLeft(joined) { (d, a) =>
      d.join(dicts(a).select(col("__code").as(a), col("__val").as(s"__graft_v_$a")),
          Seq(a), "inner")
        .drop(a).withColumnRenamed(s"__graft_v_$a", a)
    }
    decoded.select(attrOrder.map(col): _*)
  }

  /** The join node over integral attributes, each cast to a LongType trie
    * key. A WCOJ variable has no NULL binding, so rows with NULL in any
    * listed attribute are dropped first: the exec's row.getLong would read
    * NULL as 0 and bind it against genuine 0 keys.
    */
  private def onLongs(spark: SparkSession, relations: Seq[(DataFrame, Seq[String])],
      attrOrder: Seq[String]): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(WcojStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ WcojStrategy
    }
    val order = attrOrder.toArray
    val children = relations.map { case (df, attrs) =>
      val sortedAttrs = attrs.sortBy(order.indexOf(_))
      val nonNull = sortedAttrs.map(col(_).isNotNull).reduce(_ && _)
      val projected = df.filter(nonNull)
        .select(sortedAttrs.map(c => col(c).cast(LongType)): _*)
      (org.apache.spark.sql.GraftSqlBridge.logicalPlan(projected), sortedAttrs)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      LeapFrogJoinPlan.create(children.map(_._1), children.map(_._2), attrOrder))
  }

  /** Integral key types that skip the dictionary and cast straight to trie
    * keys.
    */
  val IntegralKeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(ByteType, ShortType, IntegerType, LongType)
  }

  /** The ONE attribute-eligibility rule, shared by [[join]]'s
    * requires and MultiwayJoin's planner check so the two can never drift
    * (a planner that approves what the executor rejects turns the graceful
    * binary-join fallback into a runtime error): every occurrence of the
    * attribute must be dict-encodable, and occurrences must either agree on
    * one type (one dictionary) or all be integral (direct cast).
    */
  def attrOccurrencesEligible(types: Seq[org.apache.spark.sql.types.DataType]): Boolean =
    types.nonEmpty && types.forall(dictEncodable) &&
      (types.distinct.size == 1 || types.forall(IntegralKeyTypes.contains))

  /** Atomic types the dictionary can rank and join on (Spark's AtomicType
    * marker is package-protected, so the set is spelled out).
    */
  def dictEncodable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case StringType | BooleanType | BinaryType => true
      case FloatType | DoubleType | _: DecimalType => true
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }
}
