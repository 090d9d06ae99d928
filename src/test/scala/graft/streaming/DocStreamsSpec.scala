package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit, max, struct, udf, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.commons.io.FileUtils

import graft.SparkSpec

/** [[DocStreams.ingestDedupStream]] — the rolling-crawl ingest loop. The
  * batch specs for the store pieces live in CorpusOpsSpec; these cover
  * what only the WIRING can get wrong: cross-micro-batch dedup through
  * the persisted store, store survival across a full stream RESTART
  * (fresh checkpoint — the memory is the store, not streaming state),
  * and the loud scheme-drift failure surfacing through the query.
  */
class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while seven wizards " +
      "quietly brew luminous potions beneath the ancient library stairs"
  private def nearDup(tail: String) = base.replace("stairs", tail)
  private val other =
    "completely different subject matter entirely about maritime trade " +
      "routes crossing monsoon seasons with cargo manifests of spice silk"
  private val third =
    "meanwhile volcanic soil samples from the northern ridge yielded " +
      "unexpected crystalline structures that baffled visiting geologists " +
      "for decades"

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Appends `df` to a running stream's source directory as ONE file. A
    * multi-file append becomes visible one file at a time, so the stream
    * can take it as two micro-batches — and the within-batch lower-id rule
    * then sees two batches where the test means one.
    */
  private def land(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("append").parquet(dir)

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select("doc_id").as[Long].collect().toSet

  test("ingest stream dedups each micro-batch against the persisted store") {
    val root = Files.createTempDirectory("ingest_dedup").toString
    val (src, store, out, ckpt) = (s"$root/src", s"$root/store", s"$root/out", s"$root/ckpt")
    try {
      // batch 1: two distinct docs — both survive, both signed
      docs(1L -> base, 2L -> other).write.mode("append").parquet(src)
      val stream = spark.readStream.schema(docs(1L -> base).schema).parquet(src)
      val q = DocStreams.ingestDedupStream(stream, store, out, ckpt, threshold = 0.7)
      try {
        q.processAllAvailable()
        assert(ids(out) === Set(1L, 2L))
        assert(ids(store) === Set(1L, 2L))

        // batch 2: 3 near-dups batch-1's doc 1 (dropped VIA THE STORE —
        // doc 1 is in no streaming state), 4 is fresh, 5 near-dups 4
        // within the batch (higher id drops)
        land(docs(3L -> nearDup("steps"), 4L -> third,
            5L -> third.replace("decades", "generations")), src)
        q.processAllAvailable()
        assert(ids(out) === Set(1L, 2L, 4L))
        assert(ids(store) === Set(1L, 2L, 4L))
      } finally q.stop()

      // RESTART: fresh checkpoint, fresh source dir, SAME store — a
      // near-dup of a doc ingested before the restart must still drop,
      // which no checkpoint-bound state could provide
      val src2 = s"$root/src2"
      docs(6L -> nearDup("shelves"), 7L -> base.replace("wizards", "llamas")
          .replace("potions", "stews").replace("fox", "hare")
          .replace("library", "granary").replace("dog", "cat"))
        .write.mode("append").parquet(src2)
      val stream2 = spark.readStream.schema(docs(1L -> base).schema).parquet(src2)
      val q2 = DocStreams.ingestDedupStream(stream2, store, out, s"$root/ckpt2",
        threshold = 0.7)
      try {
        q2.processAllAvailable()
        assert(ids(out) === Set(1L, 2L, 4L, 7L),
          "store-backed dedup memory must survive a restart with a fresh checkpoint")
        assert(ids(store) === Set(1L, 2L, 4L, 7L))
      } finally q2.stop()
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("randomized 3-cycle ingest keeps exactly the batch-replay reference's id SET") {
    // property differential for the ingest loop's WIRING: a randomized
    // corpus with planted cross-cycle and within-cycle near-dups, run once
    // through the streaming loop (3 micro-batches against the persisted
    // store) and once as 3 plain batch incrementalMinHashDedupFromStore
    // cycles — the kept doc_id SETS must be identical, not just the counts
    // the StockCompare comparator asserts.
    import graft.operators.Dedup
    val rng = new scala.util.Random(81511L)
    val words = Vector("alpha", "bridge", "copper", "delta", "ember",
      "falcon", "garnet", "harbor", "indigo", "juniper", "kestrel", "lumen")
    def fresh() = (1 to 18).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    val basis = Vector.fill(8)(fresh())
    val corpus = (0L until 36L).map { i =>
      val t =
        if (rng.nextInt(3) == 0) basis(rng.nextInt(basis.size)) // planted dup
        else if (rng.nextInt(3) == 0) // near-dup: one word swapped
          basis(rng.nextInt(basis.size)).split(" ").updated(
            rng.nextInt(18), words(rng.nextInt(words.size))).mkString(" ")
        else fresh()
      (i, t)
    }
    val slices = Seq(corpus.filter(_._1 < 12), corpus.filter(c => c._1 >= 12 && c._1 < 24),
      corpus.filter(_._1 >= 24))

    val root = Files.createTempDirectory("ingest_rand").toString
    try {
      // streaming loop: slices land INTERLEAVED with processAllAvailable
      // so each is its own micro-batch against the store
      docs(slices.head: _*).write.mode("append").parquet(s"$root/src")
      val stream = spark.readStream.schema(docs(1L -> base).schema)
        .parquet(s"$root/src")
      val q = DocStreams.ingestDedupStream(stream, s"$root/store", s"$root/out",
        s"$root/ckpt", threshold = 0.5)
      try {
        q.processAllAvailable()
        for (sl <- slices.tail) {
          land(docs(sl: _*), s"$root/src")
          q.processAllAvailable()
        }
      } finally q.stop()

      // batch replay of the same three cycles
      var store = Dedup.signatureStore(docs(slices.head: _*).limit(0),
        "text", "doc_id", 3, portableIds = false)
      val kept = scala.collection.mutable.Set.empty[Long]
      for (sl <- slices) {
        val c = docs(sl: _*)
        val survivors = Dedup.incrementalMinHashDedupFromStore(
          c, store, "text", "doc_id", 0.5)
        val k = c.join(survivors, c("doc_id") === survivors("doc_id"), "left_semi")
        kept ++= k.select("doc_id").as[Long].collect()
        store = store.unionByName(
          Dedup.signatureStore(k, "text", "doc_id", 3, portableIds = false))
          .localCheckpoint(true)
      }
      assert(ids(s"$root/out") === kept.toSet,
        "streaming ingest and the batch 3-cycle replay kept different doc sets")
      assert(kept.size < corpus.size, "the planted dups must actually drop")
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a batch hashed with a drifted scheme fails the query loudly") {
    val root = Files.createTempDirectory("ingest_drift").toString
    try {
      docs(1L -> base).write.mode("append").parquet(s"$root/src")
      val stream = spark.readStream.schema(docs(1L -> base).schema).parquet(s"$root/src")
      val q = DocStreams.ingestDedupStream(stream, s"$root/store", s"$root/out",
        s"$root/ckpt", threshold = 0.7, shingle = 3)
      try q.processAllAvailable() finally q.stop()

      docs(2L -> other).write.mode("append").parquet(s"$root/src2")
      val stream2 = spark.readStream.schema(docs(1L -> base).schema).parquet(s"$root/src2")
      val q2 = DocStreams.ingestDedupStream(stream2, s"$root/store", s"$root/out",
        s"$root/ckpt2", threshold = 0.7, shingle = 4)
      val e = intercept[StreamingQueryException] {
        try q2.processAllAvailable() finally q2.stop()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => c.getMessage != null &&
          c.getMessage.contains("signature store holds rows hashed")),
        s"expected the scheme-drift require in the cause chain, got: $e")
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  // ---- upsertStream / upsertBatch (CDC latest-wins merge) ----

  private def upds(rows: (Long, Int, String)*) =
    rows.toDF("doc_id", "version", "text")

  test("upsertBatch refuses filesystem schemes without atomic create-exclusive and rename") {
    // the per-bucket aside/rename publish is the same custom-protocol
    // class as the IVF store's (r17): the guard fires BEFORE any
    // filesystem access, so no s3a classes are needed
    val e = intercept[IllegalArgumentException] {
      DocStreams.upsertBatch(upds((1L, 1, "a1")), "s3a://bucket/t",
        "doc_id", "version", buckets = 4)
    }
    assert(e.getMessage.contains("ATOMIC create-exclusive"))
    assert(e.getMessage.contains("graft.fs.atomicSchemes"))
    // the opt-in lifts the refusal (failure becomes missing-filesystem)
    withConf("graft.fs.atomicSchemes" -> "s3a") {
      val e2 = intercept[Throwable] {
        DocStreams.upsertBatch(upds((1L, 1, "a1")), "s3a://bucket/t",
          "doc_id", "version", buckets = 4)
      }
      assert(!e2.getMessage.contains("ATOMIC create-exclusive"))
    }
  }

  private def tableRows(path: String): Set[(Long, Int, String)] =
    spark.read.parquet(path).select("doc_id", "version", "text")
      .as[(Long, Int, String)].collect().toSet

  /** File listing per bucket partition directory. */
  private def bucketFiles(path: String): Map[String, Set[String]] = {
    val dir = new java.io.File(path)
    dir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(b => b.getName -> b.listFiles().map(_.getName)
        .filterNot(_.startsWith("_")).toSet).toMap
  }

  test("upsert stream: later versions replace, untouched buckets are not rewritten") {
    val root = Files.createTempDirectory("upsert").toString
    val (src, table, ckpt) = (s"$root/src", s"$root/table", s"$root/ckpt")
    try {
      upds((1L, 1, "a1"), (2L, 1, "b1"), (3L, 1, "c1"))
        .write.mode("append").parquet(src)
      val q = DocStreams.upsertStream(
        spark.readStream.schema(upds((1L, 1, "a1")).schema).parquet(src),
        table, ckpt, "doc_id", "version", buckets = 16)
      try {
        q.processAllAvailable()
        assert(tableRows(table) === Set((1L, 1, "a1"), (2L, 1, "b1"), (3L, 1, "c1")))
        val before = bucketFiles(table)
        // batch 2 touches only doc 2 (new version) and doc 4 (insert)
        land(upds((2L, 2, "b2"), (4L, 1, "d1")), src)
        q.processAllAvailable()
        assert(tableRows(table) ===
          Set((1L, 1, "a1"), (2L, 2, "b2"), (3L, 1, "c1"), (4L, 1, "d1")))
        // bucket partitions not holding docs 2/4 kept their exact files —
        // dynamic partition overwrite never listed, read, or rewrote them
        val touched = spark.read.parquet(table)
          .filter(col("doc_id").isin(2L, 4L)).select("bucket")
          .distinct().as[Long].collect().map(b => s"bucket=$b").toSet
        val after = bucketFiles(table)
        val untouched = before.keySet -- touched
        assert(untouched.nonEmpty, "pick keys landing in distinct buckets")
        untouched.foreach { b =>
          assert(after(b) === before(b), s"$b was rewritten without updates")
        }
        // an OLDER re-delivered version never regresses the table
        upds((2L, 1, "b1-late")).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert(tableRows(table).contains((2L, 2, "b2")))
      } finally q.stop()
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a corrupt table read FAILS the upsert merge instead of wiping buckets") {
    val root = Files.createTempDirectory("upsert_corrupt").toString
    try {
      // the table path EXISTS but holds a non-parquet file: the merge must
      // propagate the read failure (so the micro-batch retries), never
      // treat it as a first batch — that would rewrite affected buckets
      // from the batch alone, deleting every previously stored row there
      val table = new java.io.File(s"$root/t")
      table.mkdirs()
      Files.write(java.nio.file.Paths.get(s"$root/t/part-garbage.parquet"),
        "not parquet at all".getBytes("UTF-8"))
      intercept[Exception] {
        DocStreams.upsertBatch(upds((1L, 1, "a1")), s"$root/t",
          "doc_id", "version", buckets = 4)
      }
      // the garbage file is still there — nothing was overwritten
      assert(new java.io.File(s"$root/t/part-garbage.parquet").isFile)
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a publish crash between aside and rename-in heals on the retry") {
    val root = Files.createTempDirectory("upsert_heal").toString
    try {
      DocStreams.upsertBatch(upds((1L, 1, "a1"), (2L, 1, "b1"), (3L, 1, "c1"),
        (4L, 1, "d1")), s"$root/t", "doc_id", "version", buckets = 8)
      // simulate the exact crash window: one bucket renamed ASIDE, its dest
      // missing, the in-progress marker still on disk. Before the heal pass
      // existed, the retry's affectedDirs filter treated this bucket as
      // empty and its stale-aside cleanup deleted the only copy of the rows.
      val table = new java.io.File(s"$root/t")
      val victim = table.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
      val aside = new java.io.File(table, "." + victim.getName + ".__old")
      assert(victim.renameTo(aside))
      Files.write(java.nio.file.Paths.get(
        s"$root/t/._graft_publish_inprogress"), Array.empty[Byte])
      // retry touches a key in the victim bucket AND a fresh key — the heal
      // must restore the aside before discovery so the merge sees old rows
      DocStreams.upsertBatch(upds((5L, 1, "e1")), s"$root/t",
        "doc_id", "version", buckets = 8)
      assert(tableRows(s"$root/t") === Set((1L, 1, "a1"), (2L, 1, "b1"),
        (3L, 1, "c1"), (4L, 1, "d1"), (5L, 1, "e1")))
      assert(!aside.exists, "restored aside must not linger")
      assert(!new java.io.File(s"$root/t/._graft_publish_inprogress").exists)
      // superseded aside (dest present = crash AFTER rename-in): heal drops
      // the aside, never clobbers the newer dest
      val b = table.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
      val aside2 = new java.io.File(table, "." + b.getName + ".__old")
      aside2.mkdirs()
      Files.write(java.nio.file.Paths.get(aside2.getPath, "stale.parquet"),
        "stale".getBytes("UTF-8"))
      Files.write(java.nio.file.Paths.get(
        s"$root/t/._graft_publish_inprogress"), Array.empty[Byte])
      val before = tableRows(s"$root/t")
      DocStreams.upsertBatch(upds((6L, 1, "f1")), s"$root/t",
        "doc_id", "version", buckets = 8)
      assert(tableRows(s"$root/t") === before + ((6L, 1, "f1")))
      assert(!aside2.exists, "superseded aside must be dropped, not restored")
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a nondeterministic batch recompute cannot overwrite unread buckets") {
    val root = Files.createTempDirectory("upsert_nondet").toString
    try {
      // seed every bucket so ANY unread-bucket publish would lose rows
      val seed = (1L to 40L).map(i => (i, 1, s"v$i"))
      DocStreams.upsertBatch(upds(seed: _*), s"$root/t",
        "doc_id", "version", buckets = 8)
      // a key that CHANGES between the discovery evaluation and the merge
      // evaluation (at-least-once sources are supposed to replay
      // deterministically; the guard bounds the blast radius when one
      // doesn't): pick two fresh keys hashing to DIFFERENT buckets
      def bucketOf(k: Long): Long = spark.sql(
        s"SELECT pmod(cast(conv(substring(md5(cast($k AS string)),1,8),16,10) AS long), 8)")
        .head().getLong(0)
      val k0 = 100L
      val k1 = (101L to 120L).find(bucketOf(_) !== bucketOf(k0)).get
      DocStreamsSpec.nondetCalls.set(0)
      val flip = udf { () =>
        if (DocStreamsSpec.nondetCalls.getAndIncrement() == 0) k0 else k1 }
        .asNondeterministic()
      val batch = spark.range(1)
        .select(flip().as("doc_id"), lit(1).as("version"), lit("n").as("text"))
      DocStreams.upsertBatch(batch, s"$root/t", "doc_id", "version", buckets = 8)
      val rows = tableRows(s"$root/t")
      // every previously stored row survives; the flipped row (seen as k0 at
      // discovery, k1 at merge) lands in an unread bucket and is DROPPED —
      // never published over bucket(k1)'s stored rows
      assert(rows.filter(_._1 <= 40L) === seed.toSet)
      assert(!rows.exists(_._1 === k1))
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a corrupt signature store FAILS the ingest batch instead of skipping dedup") {
    val root = Files.createTempDirectory("ingest_corrupt").toString
    try {
      new java.io.File(s"$root/store").mkdirs()
      Files.write(java.nio.file.Paths.get(s"$root/store/part-bad.parquet"),
        "garbage".getBytes("UTF-8"))
      docs(1L -> base).write.mode("append").parquet(s"$root/src")
      val q = DocStreams.ingestDedupStream(
        spark.readStream.schema(docs(1L -> base).schema).parquet(s"$root/src"),
        s"$root/store", s"$root/out", s"$root/ckpt", threshold = 0.7)
      // an unreadable EXISTING store must surface as a query failure —
      // silently treating it as empty would skip dedup against all prior
      // history while still appending output and fresh signatures
      intercept[StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
      assert(!new java.io.File(s"$root/out").exists,
        "no output may be appended when the store read failed")
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("upsert batch replay is idempotent; same-version ties are deterministic") {
    val root = Files.createTempDirectory("upsert_idem").toString
    try {
      // two same-key same-version rows in ONE batch: the content-hash
      // tie-break must pick the same winner on every application
      val batch = upds((9L, 1, "x"), (9L, 1, "y"), (8L, 1, "w"))
      DocStreams.upsertBatch(batch, s"$root/t1", "doc_id", "version", buckets = 4)
      val first = tableRows(s"$root/t1")
      assert(first.size === 2 && first.exists(_._1 === 8L))
      // replaying the identical batch (at-least-once delivery) changes nothing
      DocStreams.upsertBatch(batch, s"$root/t1", "doc_id", "version", buckets = 4)
      assert(tableRows(s"$root/t1") === first)
      // a fresh table reaches the identical state — the tie-break is a
      // pure function of the rows, not of arrival order or plan layout
      DocStreams.upsertBatch(batch.orderBy(col("text").desc), s"$root/t2",
        "doc_id", "version", buckets = 4)
      assert(tableRows(s"$root/t2") === first)
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("randomized upsert sequences converge to the naive latest-wins reference") {
    // property: applying K random update batches through the bucketed
    // partition-pruned merge reaches EXACTLY the state a naive global
    // latest-wins over the concatenated history computes — same keys, same
    // winning versions, same winning payloads (including the same-version
    // content-hash tie-break, which the reference must replicate).
    val rng = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val root = Files.createTempDirectory(s"upsert_rand$trial").toString
      try {
        // naive sequential reference: per batch, the within-batch winner is
        // max (version, xxhash64(version, text), text) — the engine's own
        // deterministic tie — then the state merge takes the batch row iff
        // its version is >= the stored one (equal version ⇒ the LATER
        // delivery wins, the engine's priority column)
        val state = scala.collection.mutable.Map.empty[Long, (Int, String)]
        for (_ <- 1 to 4) {
          val batch = (1 to (5 + rng.nextInt(20))).map { _ =>
            val k = rng.nextInt(30).toLong
            val v = 1 + rng.nextInt(3)
            (k, v, s"payload ${rng.nextInt(5)}")
          }
          DocStreams.upsertBatch(upds(batch: _*), s"$root/t",
            "doc_id", "version", buckets = 8)
          val winners = upds(batch: _*)
            .withColumn("h", xxhash64(col("version"), col("text")))
            .groupBy("doc_id")
            .agg(max(struct(col("version"), col("h"), col("text"))).as("w"))
            .select(col("doc_id"), col("w.version"), col("w.text"))
            .as[(Long, Int, String)].collect()
          winners.foreach { case (k, v, t) =>
            if (state.get(k).forall(_._1 <= v)) state(k) = (v, t)
          }
        }
        val ref = state.map { case (k, (v, t)) => (k, v, t) }.toSet
        assert(tableRows(s"$root/t") === ref, s"trial $trial diverged")
      } finally FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("an upsert runs 1 Spark job to load and 2 to refresh; the session keeps AQE on") {
    val root = Files.createTempDirectory("upsert_jobs").toString
    try {
      def jobs(batch: org.apache.spark.sql.DataFrame): Long =
        graft.QueryTrace.run(spark)(DocStreams.upsertBatch(batch, s"$root/t",
          "doc_id", "version", buckets = 8))._2.totals.jobs
      val aqe = "spark.sql.adaptive.enabled"
      val (counts, seen) = sampledConf(aqe) {
        (jobs(upds((1L, 1, "a1"), (2L, 1, "b1"), (3L, 1, "c1"))),
          jobs(upds((2L, 2, "b2"), (4L, 1, "d1"))))
      }
      // the load is the write alone; a refresh adds the affected-bucket
      // collect. With AQE on, each exchange is a job of its own (4 a refresh).
      assert(counts === ((1L, 2L)))
      assert(seen === Set(Map(aqe -> Some("true"))))
      assert(tableRows(s"$root/t") ===
        Set((1L, 1, "a1"), (2L, 2, "b2"), (3L, 1, "c1"), (4L, 1, "d1")))
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("two upserts to different tables at once leave what sequential runs leave") {
    val root = Files.createTempDirectory("upsert_concurrent").toString
    try {
      val cycles = Map(
        "a" -> Seq(upds((1L, 1, "a1"), (2L, 1, "b1"), (3L, 1, "c1")),
          upds((2L, 2, "b2"), (4L, 1, "d1")), upds((1L, 3, "a3"))),
        "b" -> Seq(upds((10L, 1, "j1"), (11L, 1, "k1")),
          upds((11L, 2, "k2"), (12L, 1, "l1"), (13L, 1, "m1")), upds((10L, 2, "j2"))))
      def run(name: String, table: String): Unit = cycles(name).foreach(
        DocStreams.upsertBatch(_, s"$root/$table", "doc_id", "version", buckets = 4))
      run("a", "seq_a"); run("b", "seq_b")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val other = Future(run("b", "par_b"))
      run("a", "par_a")
      Await.result(other, scala.concurrent.duration.Duration(5, "min"))
      for (t <- Seq("a", "b")) {
        assert(tableRows(s"$root/par_$t") === tableRows(s"$root/seq_$t"), t)
        assert(bucketFiles(s"$root/par_$t").keySet === bucketFiles(s"$root/seq_$t").keySet, t)
      }
      assert(tableRows(s"$root/par_a").contains((1L, 3, "a3")))
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("upsert merge writes ONE file per bucket dir however wide the batch plan") {
    val root = Files.createTempDirectory("upsert_files").toString
    try {
      // a 16-partition batch covering every bucket: if the merge's output
      // partitioning were the plan's shuffle width instead of the bucket
      // hash, each task would write a sliver into every bucket dir —
      // tasks×buckets small files of compaction debt per micro-batch
      // instead of the one-file-per-rewritten-bucket layout contract
      val batch = (0L until 400L).map(i => (i, 1, s"text $i"))
        .toDF("doc_id", "version", "text").repartition(16)
      DocStreams.upsertBatch(batch, s"$root/t", "doc_id", "version", buckets = 8)
      val dirs = new java.io.File(s"$root/t").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      assert(dirs.length === 8)
      dirs.foreach { d =>
        val n = d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
        assert(n === 1, s"${d.getName} holds $n files — the merge is not bucket-aligned")
      }
      assert(tableRows(s"$root/t").size === 400)
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }
}

/** Executor-side mutable state for the nondeterministic-recompute spec —
  * local mode shares the JVM, so a static counter observes both plan
  * evaluations of the same batch lineage.
  */
object DocStreamsSpec {
  val nondetCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}
