package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loader for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Scale notes: every table goes through [[Tables.read]], which gives
  * Catalyst a file relation with statistics, so filter and column pushdown
  * reach the scan. It resolves each path's schema once per JVM rather than
  * once per query: the memo is keyed on the path's file listing and the
  * inference confs, holds at most 128 paths, and keeps the schema, never
  * the relation ([[Tables.read]] says why). At 100 TB the same call works
  * on a directory of thousands of files; nothing here assumes a single
  * file.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  /** events.ts has shipped in two parquet encodings across driver testdata
    * generations: TIMESTAMP(NANOS) — which Spark cannot read natively, so
    * sessions set spark.sql.legacy.parquet.nanosAsLong=true and it arrives as
    * LongType — and native timestamp[us]/[ns] TimestampType. Branch on the
    * observed dtype so either generation loads; both paths yield the same
    * microsecond TimestampType values (the generator emits micro-aligned
    * nanos: epoch_ns % 1000 == 0 for all rows, and the r6-green hash baseline
    * matches the r8 native-timestamp reads).
    */
  def events: DataFrame = Tables.adaptEventTs(table("events"))

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** The parquet data at `path`, read with a memoised schema.
    *
    * `spark.read.parquet(path)` without a schema starts a Spark job that
    * reads the parquet footers to infer one, about 35 ms even for a tiny
    * table, and a query pays it once per table it reads. Here the schema is
    * inferred once and reused through `spark.read.schema(s).parquet(path)`,
    * which starts no job.
    *
    * The memo key is the path, the sorted (file, modification time, length)
    * of its leaf files from one driver-side listing, and the session confs
    * that change what inference returns ([[InferenceConfs]]). Rewriting the
    * files or reading under other confs therefore infers again. Because the
    * key holds everything inference depends on, the memo is JVM-wide: a
    * service that gives each client its own session (`newSession()`) would
    * otherwise infer every table once more per session.
    *
    * Only the schema is kept, not the resolved relation: a relation's
    * `InMemoryFileIndex` caches its file listing, so a kept relation would
    * go stale when a caller rewrites its own path.
    *
    * One entry per path, replaced when the listing changes; at most
    * [[MaxPaths]] paths, least recently read dropped first (gates write a
    * fresh temp directory per run). Inference runs outside the memo's
    * lock, so a slow footer read never blocks another path. A path that
    * cannot be listed (missing, a glob) takes the plain read, so its
    * caller sees Spark's own error.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(path))) match {
          case Some((`key`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(path, (key, df.schema)))
            df
        }
    }

  /** The schema Spark's parquet writer recorded in `file`'s footer, read
    * in this JVM without a Spark job; None for a file another writer
    * produced. Spark's own inference returns this recorded schema when it
    * is present, so a caller that knows its files came from a Spark writer
    * can read them with it instead of inferring.
    */
  def writtenSchema(spark: SparkSession, file: String): Option[StructType] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])
    finally reader.close()
  }

  /** Session confs that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val MaxPaths = 128

  private final case class Listing(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  /** path -> (the listing its schema was inferred under, the schema), in
    * access order for the eviction.
    */
  private val schemas = new java.util.LinkedHashMap[String, (Listing, StructType)](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (Listing, StructType)]): Boolean =
      size > MaxPaths
  }

  private def listing(spark: SparkSession, path: String): Option[Listing] =
    try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      Some(Listing(files.result().sorted, InferenceConfs.map(spark.conf.getOption)))
    } catch { case NonFatal(_) => None }

  /** The spread width for STREAMING sources, which [[graft.Small.spread]]
    * passes through (a streaming frame has no size estimate to route on):
    * `Some(defaultParallelism)`, None on a one-core cluster. The
    * CALLER owns the knowledge that its source is narrower than the
    * cluster — a file-stream over a single small file here; a wide
    * deployment (many files/topic partitions per trigger) should pass None
    * and keep the map on the scan.
    */
  def streamSpreadWidth(spark: SparkSession): Option[Int] =
    Some(spark.sparkContext.defaultParallelism).filter(_ > 1)

  /** Normalize the `ts` column to TimestampType whichever of the known
    * parquet encodings the driver's generator emitted (see [[Tables.events]]
    * doc above). Works on batch and streaming frames alike — the branch is
    * on the SCHEMA, the conversion itself is a per-row expression.
    */
  def adaptEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet dtype $other — expected nanos-as-long or timestamp")
    }
  }
}
