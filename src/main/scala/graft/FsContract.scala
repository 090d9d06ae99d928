package graft

/** Shared filesystem-contract guard for the engine's CUSTOM rename-based
  * write protocols — the IVF store's lease/append/rebuild machinery
  * ([[graft.operators.Similarity]]) and the CDC upsert's per-bucket
  * aside/rename publish ([[graft.streaming.DocStreams.upsertBatch]]).
  *
  * These protocols presume two guarantees plain object stores do not
  * give:
  *   1. ATOMIC create-exclusive: `fs.create(p, overwrite = false)` fails
  *      iff the file exists, with no window where two creators both
  *      succeed;
  *   2. ATOMIC rename: `fs.rename(src, dst)` moves (never copies) and
  *      readers see either the old name or the new, never a partial.
  *
  * True on HDFS, viewfs and local filesystems; silently false on
  * S3-family stores (check-then-put create, copy-based rename), where
  * single-writer guarantees and "either old or new survives complete"
  * swap invariants quietly weaken to best-effort. Writers refuse such
  * schemes loudly. Both guarantees are one property of a filesystem, and
  * every protocol here needs both, so one session conf opts a scheme in
  * for all of them: a deployment whose object layer adds the missing
  * semantics (a consistency/commit layer) lists it, comma-separated, in
  * [[AtomicSchemesKey]].
  *
  * Spark-managed writes (df.write...) are NOT guarded — Spark's own
  * commit protocols handle object stores; only code doing its OWN
  * create-exclusive/rename needs these semantics.
  */
object FsContract {
  val AtomicSchemesKey = "graft.fs.atomicSchemes"

  def requireAtomicScheme(spark: org.apache.spark.sql.SparkSession,
      path: String, caller: String, protocol: String): Unit = {
    // a scheme-less path is resolved by Hadoop against fs.defaultFS, not
    // against the local filesystem — on a cluster whose defaultFS is an
    // object store, '/data/ivf' IS an s3a path and defaulting to 'file'
    // here would silently bypass the refusal this guard exists for
    // (ADVICE r17). FileSystem.getDefaultUri reads the conf without
    // instantiating any filesystem, so no object-store classes are
    // needed to classify the scheme.
    val scheme = Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme)
      .orElse(Option(org.apache.hadoop.fs.FileSystem
        .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme))
      .getOrElse("file").toLowerCase
    val extra = spark.conf.get(AtomicSchemesKey, "")
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    require((Set("file", "hdfs", "viewfs", "local") ++ extra)(scheme),
      s"$caller: $path is on filesystem scheme '$scheme', but $protocol " +
        "requires ATOMIC create-exclusive and ATOMIC rename — guaranteed " +
        "on HDFS/viewfs/local, NOT on S3-family object stores. If this " +
        "store's filesystem provides both (e.g. via a consistency " +
        s"layer), allow the scheme with spark.conf $AtomicSchemesKey")
  }
}
