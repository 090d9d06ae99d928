package graft

import org.apache.spark.sql.types._

/** Testdata-drift canary: the driver regenerates /root/testdata between
  * rounds and has already changed column encodings once (events.ts went from
  * parquet TIMESTAMP(NANOS) to native timestamp[us] before round 8, silently
  * erroring 8 query gates). This spec pins the ENGINE-FACING schema of every
  * `Tables` member — post-conversion, i.e. what the queries actually see — so
  * any future drift in the generated data or the loader fails loudly here
  * rather than at the driver's correctness gate.
  *
  * The committed fixtures under fixtures/tsenc_{nanos,micros}/ hold identical
  * logical rows in both ts encodings the driver has shipped; `Tables.events`
  * must load both to the same TimestampType micros.
  */
class TablesCanarySpec extends SparkSpec {

  private lazy val t = Tables(spark, sf0001)

  private def fields(df: org.apache.spark.sql.DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  test("engine-facing schemas of all tables at sf0.001") {
    assert(fields(t.region) == Seq("r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(fields(t.nation) == Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(fields(t.customer) == Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType))
    assert(fields(t.supplier) == Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(fields(t.part) == Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType))
    assert(fields(t.documents) == Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType))
    assert(fields(t.embeddings) == Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

    // Datetime columns must arrive as a Spark timestamp family (TIMESTAMP or
    // TIMESTAMP_NTZ both work downstream — queries cast/date_trunc them) and
    // never as raw longs or strings.
    def isTs(dt: DataType): Boolean = dt == TimestampType || dt == TimestampNTZType
    val orders = fields(t.orders)
    assert(orders.map(_._1) == Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))
    assert(isTs(orders.toMap.apply("o_orderdate")))
    val lineitem = fields(t.lineitem)
    assert(lineitem.map(_._1) == Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"))
    assert(isTs(lineitem.toMap.apply("l_shipdate")))
  }

  test("events loads to TimestampType micros regardless of parquet ts encoding") {
    // sf0.001 — whatever encoding the driver generated this round:
    assert(fields(t.events) == Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType))

    // Both committed encodings load to the same values:
    val nanos  = Tables(spark, "fixtures/tsenc_nanos").events
    val micros = Tables(spark, "fixtures/tsenc_micros").events
    assert(nanos.schema("ts").dataType == TimestampType)
    assert(micros.schema("ts").dataType == TimestampType)
    val get = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("event_id", "unix_micros(ts) AS us").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (a, b) = (get(nanos), get(micros))
    assert(a == b)
    assert(a == Seq(1L -> 1700000000000000L, 2L -> 1700000123456789L,
      3L -> 1700009876543210L, 4L -> 1700001111222333L))
  }

  test("Small.spread widens a small scan by estimate, is the identity over the cap") {
    // r18: parquet splits cannot subdivide a row group, so a single-file
    // table serializes its scan-stage map on one core; Small.spread hash-
    // repartitions a scan whose size estimate is within the cap
    val docs = t.documents
    val width = spark.sessionState.conf.numShufflePartitions
    assert(docs.rdd.getNumPartitions < width,
      "precondition: the sf0.001 documents scan must be narrow")
    val spread = Small.spread(docs, "doc_id")
    assert(spread.rdd.getNumPartitions === width)
    // values are the table's, untouched (count + id sum — order-free)
    import org.apache.spark.sql.functions._
    val (a, b) = (docs.agg(count(lit(1)), sum("doc_id")).head(),
      spread.agg(count(lit(1)), sum("doc_id")).head())
    assert(a === b)
    // over the cap (the 100 TB posture: many splits already): identity
    withConf(Small.Key -> "0")(assert(Small.spread(docs, "doc_id") eq docs))
    withConf(Small.Key -> "1")(assert(Small.spread(docs, "doc_id") eq docs))
  }

  test("Small.spread re-reads the estimate after the files are rewritten") {
    // each read of the path sizes its files as they are now, so the
    // decision follows a rewrite instead of keeping the first answer
    val dir = java.nio.file.Files.createTempDirectory("spread_rewrite").toString
    try withConf(Small.Key -> (64L << 10).toString) {
      spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir)
      val small = Tables.read(spark, dir)
      assert(Small.spread(small, "id") ne small)
      spark.range(400000).coalesce(1).write.mode("overwrite").parquet(dir)
      val large = Tables.read(spark, dir)
      assert(Small.spread(large, "id") eq large)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("Tables.read sees a new schema after its path is rewritten") {
    val dir = tempDir("tables_rewrite")
    try {
      spark.range(3).write.mode("overwrite").parquet(dir)
      assert(Tables.read(spark, dir).columns.toSeq == Seq("id"))
      spark.range(3).selectExpr("id", "'a' AS tag")
        .write.mode("overwrite").parquet(dir)
      val again = Tables.read(spark, dir)
      assert(again.columns.toSeq == Seq("id", "tag"))
      assert(again.where("tag = 'a'").count() === 3L)
    } finally deleteDir(dir)
  }

  test("Tables.read infers again under confs that change the schema") {
    val path = "fixtures/tsenc_nanos/events.parquet"
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    def session(nanosAsLong: Boolean) = {
      val s = spark.newSession()
      s.conf.set(conf, nanosAsLong.toString)
      s
    }
    val (asLong, native) = (session(true), session(false))
    // TIMESTAMP(NANOS) either reads as a long or, when Spark cannot read
    // it natively, fails: in both cases the memo must give what an
    // uncached read gives under the same session
    def ts(read: => org.apache.spark.sql.DataFrame): Either[Class[_], DataType] =
      scala.util.Try(read.schema("ts").dataType).toEither.left.map(_.getClass)
    assert(ts(Tables.read(asLong, path)) == Right(LongType))
    val plain = ts(native.read.parquet(path))
    assert(plain != Right(LongType))
    assert(ts(Tables.read(native, path)) == plain)
    assert(ts(Tables.read(asLong, path)) == Right(LongType))
  }

  test("a table read again starts no Spark job") {
    Tables(spark, sf0001).lineitem // the schema is inferred at most once per JVM
    val (lineitem, trace) = QueryTrace.run(spark)(Tables(spark, sf0001).lineitem)
    assert(trace.totals.jobs === 0L)
    assert(lineitem.columns.head == "l_orderkey")
  }

  test("Tables.read of a missing path raises the error spark.read.parquet does") {
    val dir = tempDir("tables_missing")
    try {
      val missing = s"$dir/absent.parquet"
      val plain = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(missing))
      val memo = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, missing))
      assert(memo.getClass == plain.getClass)
      assert(memo.getMessage == plain.getMessage)
    } finally deleteDir(dir)
  }

  test("Tables.read from two threads at once gives equal schemas") {
    val dir = tempDir("tables_threads")
    try {
      spark.range(5).selectExpr("id", "id * 2.0 AS x", "'v' AS s")
        .write.mode("overwrite").parquet(dir)
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val reads = Seq.fill(2)(pool.submit(() => {
          start.await()
          Tables.read(spark, dir).schema
        }))
        start.countDown()
        val Seq(a, b) = reads.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(a == b)
        assert(a == spark.read.parquet(dir).schema)
      } finally pool.shutdown()
    } finally deleteDir(dir)
  }
}
