package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions

class PackingSpec extends SparkSpec {
  import spark.implicits._
  // force the distributed two-phase shape: these suites differential-test
  // it against the naive window twin, so the measured-small-input routing
  // (graft.Small.byEstimate) must not collapse both sides to one plan — per
  // test, so the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))

  test("packShards distributed prefix sum matches the naive global window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = Packing.packShardsNaive(docs, "doc_id",
        TextFunctions.tokenCount(col("text")), 512)
      .orderBy("doc_id").collect().toSeq
    for (p <- Seq(1, 3, 32)) {
      val dist = Packing.packShards(docs, "doc_id",
          TextFunctions.tokenCount(col("text")), 512, partitions = p)
        .orderBy("doc_id").collect().toSeq
      assert(dist === naive, s"partitions=$p diverged from the naive window")
    }
  }

  test("packShards semantics: shard of the doc's first token; big docs span") {
    // budget 10; tokens 4,8,25,3 → cums 4,12,37,40 → starts 0,4,12,37
    val df = Seq((1L, 4), (2L, 8), (3L, 25), (4L, 3)).toDF("id", "nt")
    val out = Packing.packShards(df, "id", col("nt"), 10, partitions = 2)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 3L))
  }

  test("packShards requires a positive budget") {
    val df = Seq((1L, 4)).toDF("id", "nt")
    intercept[IllegalArgumentException] {
      Packing.packShards(df, "id", col("nt"), 0)
    }
  }
}

class MixtureSampleSpec extends SparkSpec {
  import spark.implicits._

  // skewed corpus: 64 head docs, 8 tail docs
  lazy val skewed = ((1 to 64).map(i => (i.toLong, "head")) ++
    (65 to 72).map(i => (i.toLong, "tail"))).toDF("doc_id", "source")

  test("tau=1 reproduces the input mix: every source rate = targetFrac") {
    // w_s = p_s so rate_s = targetFrac for all sources; kept set is exactly
    // the docs whose unit hash < 0.5, independent of source
    val kept = Sampling.mixtureSample(skewed, "source", "doc_id", tau = 1.0, targetFrac = 0.5)
    val expected = skewed.filter(Sampling.unitHash("doc_id") < 0.5)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ===
      expected.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("tau=0 equalizes sources: tail keeps everything, head is downsampled") {
    // w_s = 1 per source; target = 36 docs split 18/18; tail has only 8 docs
    // so its rate caps at 1.0 and every tail doc survives
    val kept = Sampling.mixtureSample(skewed, "source", "doc_id", tau = 0.0, targetFrac = 0.5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("tail") === 8L)
    assert(kept.getOrElse("head", 0L) < 30L) // head rate = 18/64 ≈ 0.28
  }

  test("tau between 0 and 1 boosts tail relative to its input share") {
    val kept = Sampling.mixtureSample(skewed, "source", "doc_id", tau = 0.5, targetFrac = 0.5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val tailShareIn = 8.0 / 72.0
    val tailShareOut = kept("tail").toDouble / (kept("tail") + kept.getOrElse("head", 0L))
    assert(tailShareOut > tailShareIn)
  }

  test("sampling is deterministic across runs and repartitioning") {
    val a = Sampling.mixtureSample(skewed, "source", "doc_id", 0.5, 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.mixtureSample(skewed.repartition(7), "source", "doc_id", 0.5, 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "alpha beta gamma"),
    (2L, "delta epsilon zeta")).toDF("doc_id", "text")
  lazy val batch = Seq(
    (10L, "alpha beta gamma"),   // dup of corpus doc 1
    (11L, "eta theta iota"),     // new
    (12L, "eta theta iota"),     // within-batch dup of 11
    (13L, "kappa lambda mu")     // new
  ).toDF("doc_id", "text")

  private val byMd5: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column =
    _ => md5(col("text"))

  test("incrementalDedup drops corpus dups and within-batch dups") {
    val out = Dedup.incrementalDedup(batch, corpus, byMd5, "doc_id")
      .as[Long].collect().sorted.toSeq
    assert(out === Seq(11L, 13L))
  }

  test("bloom-prefiltered path returns the identical set") {
    val exact = Dedup.incrementalDedup(batch, corpus, byMd5, "doc_id")
      .as[Long].collect().sorted.toSeq
    val bloomed = Dedup.incrementalDedup(batch, corpus, byMd5, "doc_id",
        bloomPrefilter = 1000L)
      .as[Long].collect().sorted.toSeq
    assert(bloomed === exact)
  }

  test("fingerprint key treats token-order permutations as duplicates") {
    val permBatch = Seq((20L, "gamma alpha beta"), (21L, "nu xi omicron"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(permBatch, corpus,
        _ => graft.functions.TextFunctions.fingerprint(col("text")), "doc_id")
      .as[Long].collect().sorted.toSeq
    assert(out === Seq(21L)) // 20 is an order-permuted dup of corpus doc 1
  }
}

class PackingPropertySpec extends SparkSpec {
  import spark.implicits._
  // force the distributed two-phase shape: these suites differential-test
  // it against the naive window twin, so the measured-small-input routing
  // (graft.Small.byEstimate) must not collapse both sides to one plan — per
  // test, so the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))

  test("random docs: distributed == naive for random budgets/partitions; shards monotone") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(200)
      val df = (1 to n).map(i => (i.toLong, 1 + rnd.nextInt(500))).toDF("id", "nt")
      val budget = 64 + rnd.nextInt(4000)
      val parts = 1 + rnd.nextInt(40)
      val dist = Packing.packShards(df, "id", col("nt"), budget, parts)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      val naive = Packing.packShardsNaive(df, "id", col("nt"), budget)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      assert(dist === naive, s"trial $trial (n=$n budget=$budget parts=$parts)")
      // shard index starts at 0 and is non-decreasing in id order (a doc
      // longer than the budget may legitimately skip indices)
      val shards = dist.map(_._3)
      assert(shards.head === 0L)
      assert(shards.zip(shards.tail).forall { case (a, b) => b >= a })
    }
  }
}

class ScrubRunsSpec extends SparkSpec {
  import spark.implicits._

  test("scrubTokenRuns collapses consecutive runs only") {
    val df = Seq(
      (1L, "the the the cat sat sat on the mat"),
      (2L, "a a a a"),
      (3L, "one"),
      (4L, "x y x y")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextFunctions.scrubTokenRuns(col("text")).as("c"),
        TextFunctions.tokenRunsRemoved(col("text")).as("n"))
      .as[(Long, String, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === (("the cat sat on the mat", 3)))  // non-adjacent 'the' kept
    assert(out(2L) === (("a", 3)))
    assert(out(3L) === (("one", 0)))
    assert(out(4L) === (("x y x y", 0)))                 // alternation untouched
  }

  test("scrubTokenRuns is idempotent on random token streams") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "bb", "ccc", "d")
    val texts = (1 to 30).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val once = texts.select(col("doc_id"),
      TextFunctions.scrubTokenRuns(col("text")).as("text"))
    val twice = once.select(col("doc_id"),
        TextFunctions.scrubTokenRuns(col("text")).as("t2"))
      .as[(Long, String)].collect().toMap
    val onceM = once.as[(Long, String)].collect().toMap
    assert(twice === onceM)
    // and the scrubbed stream never contains an adjacent duplicate
    assert(onceM.values.forall { t =>
      val toks = t.split("\\s+"); toks.zip(toks.tail).forall { case (a, b) => a != b }
    })
  }
}

class ChunkWindowsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def chunks(n: Long, w: Int, s: Int): Seq[(Int, Long, Long)] =
    Packing.chunkWindows(Seq((1L, n)).toDF("id", "n"), "id", col("n"), w, s)
      .select("chunk_idx", "tok_start", "tok_len")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq

  test("stops after the first window reaching the end; last chunk truncated") {
    assert(chunks(10, 8, 4) === Seq((0, 1L, 8L), (1, 5L, 6L)))
    assert(chunks(10, 4, 4) === Seq((0, 1L, 4L), (1, 5L, 4L), (2, 9L, 2L)))
    assert(chunks(3, 8, 4) === Seq((0, 1L, 3L)))
    assert(chunks(8, 8, 4) === Seq((0, 1L, 8L)))
    assert(chunks(0, 8, 4).isEmpty)
  }

  test("rejects stride > window (would skip tokens and emit degenerate chunks)") {
    val err = intercept[IllegalArgumentException] { chunks(45, 40, 100) }
    assert(err.getMessage.contains("stride"))
  }

  test("random lengths: full coverage, no chunk subsumed, correct count") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 30) {
      val n = 1 + rnd.nextInt(300)
      val w = 1 + rnd.nextInt(50)
      val s = 1 + rnd.nextInt(w)
      val cs = chunks(n.toLong, w, s)
      val expected = 1 + math.ceil(math.max(0, n - w).toDouble / s).toLong
      assert(cs.length.toLong === expected, s"n=$n w=$w s=$s")
      val covered = cs.flatMap { case (_, st, ln) => st until (st + ln) }.toSet
      assert(covered === (1L to n.toLong).toSet, s"coverage n=$n w=$w s=$s")
      cs.foreach { case (_, st, ln) => assert(ln >= 1 && ln <= w) }
    }
  }
}

class GroupQuotaSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private lazy val rows = (1L to 100L).map(i => (i, s"g${i % 3}", s"payload$i"))
    .toDF("id", "grp", "payload")

  test("caps each group at exactly quota; small groups untouched") {
    val out = Sampling.groupQuota(rows, "grp", "id", quota = 10)
    val sizes = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ === 10L))
    val loose = Sampling.groupQuota(rows, "grp", "id", quota = 1000)
    assert(loose.count() === 100L)
  }

  test("keeper set is a pure function of the data (stable under repartition)") {
    val a = Sampling.groupQuota(rows.repartition(13), "grp", "id", 7)
      .select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.groupQuota(rows.repartition(2), "grp", "id", 7)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b && a.length === 21)
    // all original columns survive
    assert(Sampling.groupQuota(rows, "grp", "id", 7).columns.toSeq
      === Seq("id", "grp", "payload"))
  }
}

class LengthBucketSpec extends SparkSpec {
  import spark.implicits._
  // force the distributed two-phase shape: these suites differential-test
  // it against the naive window twin, so the measured-small-input routing
  // (graft.Small.byEstimate) must not collapse both sides to one plan — per
  // test, so the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))
  import org.apache.spark.sql.functions._

  private def naive(df: org.apache.spark.sql.DataFrame, bucketSize: Int,
      batchSize: Int): Seq[(Long, Long, Long, Long)] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
    df.select(col("id").as("doc_id"), col("n").cast("long").as("n_tokens"))
      .withColumn("bucket",
        floor((col("n_tokens") - 1).cast("double") / bucketSize).cast("long"))
      .withColumn("batch_idx",
        floor((row_number().over(w) - 1).cast("double") / batchSize).cast("long"))
      .select("doc_id", "n_tokens", "bucket", "batch_idx")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("distributed per-bucket rank matches the naive bucket window") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 500L).map(i => (i, 1 + rnd.nextInt(400))).toDF("id", "n")
    for ((bs, bat, parts) <- Seq((64, 8, 7), (50, 3, 32), (1000, 16, 2))) {
      val dist = Packing.lengthBucketBatches(docs, "id", col("n"), bs, bat, parts)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(dist === naive(docs, bs, bat), s"bucketSize=$bs batch=$bat parts=$parts")
    }
  }

  test("batches respect the size cap and similar-length grouping") {
    val docs = (1L to 100L).map(i => (i, i.toInt)).toDF("id", "n")
    val out = Packing.lengthBucketBatches(docs, "id", col("n"),
      bucketSize = 10, batchSize = 4)
    val sizes = out.groupBy("bucket", "batch_idx").count()
      .as[(Long, Long, Long)].collect()
    assert(sizes.forall(_._3 <= 4), "no batch exceeds batchSize")
    // every bucket holds only lengths from its own 10-token band
    val bands = out.select("bucket", "n_tokens").as[(Long, Long)].collect()
    assert(bands.forall { case (b, n) => (n - 1) / 10 === b })
  }
}

class TokenQuotaSpec extends SparkSpec {
  import spark.implicits._
  // force the distributed two-phase shape: these suites differential-test
  // it against the naive window twin, so the measured-small-input routing
  // (graft.Small.byEstimate) must not collapse both sides to one plan — per
  // test, so the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))
  import org.apache.spark.sql.functions._

  test("groupRunningTotals matches the naive group window on random data") {
    val rnd = new scala.util.Random(17)
    val rows = (1L to 300L).map(i => (i, s"g${i % 5}", 1 + rnd.nextInt(50)))
      .toDF("id", "grp", "v")
    for (parts <- Seq(2, 9, 32)) {
      val dist = Packing.groupRunningTotals(rows, "grp", "id", col("v"), parts)
        .select("doc_id", "grp", "cum").as[(Long, String, Long)]
        .collect().sortBy(_._1).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy("id")
      val naive = rows.withColumn("cum", sum(col("v").cast("long")).over(w))
        .select(col("id"), col("grp"), col("cum"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(dist === naive, s"parts=$parts")
    }
  }

  test("NULL group keys survive the offset reattach (window-twin parity)") {
    // a NULL group is a real partition under PARTITION BY; the broadcast
    // offset join must be null-safe or its rows silently vanish
    val rows = (1L to 60L).map(i =>
        (i, if (i % 3 == 0) null else s"g${i % 2}", (i % 7 + 1).toInt))
      .toDF("id", "grp", "v")
    val dist = Packing.groupRunningTotals(rows, "grp", "id", col("v"), 5)
      .select("doc_id", "grp", "cum").as[(Long, Option[String], Long)]
      .collect().sortBy(_._1).toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("id")
    val naive = rows.withColumn("cum", sum(col("v").cast("long")).over(w))
      .select(col("id"), col("grp"), col("cum"))
      .as[(Long, Option[String], Long)].collect().sortBy(_._1).toSeq
    assert(dist === naive)
    assert(dist.count(_._2.isEmpty) === 20) // every null-group row present

    val split = Sampling.stratifiedSplit(rows, "grp", "id",
      Seq(0.5, 0.5), Seq("a", "b"))
    assert(split.count() === 60L) // null stratum rows not dropped
  }

  test("groupRunningTotals fuzz: partition layouts 1..64 × AQE on/off × skew/NULL/empty") {
    // the q112 driver-only hash red was never reproduced locally; this fuzz
    // pins the invariant that killed the suspect — every intermediate is a
    // pure function of row values, so NO layout knob may change the output
    val rnd = new scala.util.Random(23)
    // skewed: one giant group, several tiny ones, a NULL group, single-row
    // groups, and duplicated ids within a group (ties on the order key)
    val rows = ((1L to 400L).map(i => (i, "giant", 1 + rnd.nextInt(90))) ++
      (401L to 410L).map(i => (i, s"tiny${i % 3}", 1 + rnd.nextInt(9))) ++
      (411L to 440L).map(i => (i, null: String, 1)) ++
      Seq((441L, "solo", 5), (200L, "giant", 3), (200L, "giant", 3)))
      .toDF("id", "grp", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("id")
    val naive = rows.withColumn("cum", sum(col("v").cast("long")).over(w))
      .select(col("id"), col("grp"), col("cum"))
      .as[(Long, Option[String], Long)].collect().sortBy(_._1).toSeq
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      for (parts <- Seq(1, 2, 7, 33, 64); inLayout <- Seq(1, 13)) {
        val dist = Packing.groupRunningTotals(
            rows.repartition(inLayout), "grp", "id", col("v"), parts)
          .select("doc_id", "grp", "cum").as[(Long, Option[String], Long)]
          .collect().sortBy(_._1).toSeq
        assert(dist === naive, s"aqe=$aqe parts=$parts inLayout=$inLayout")
      }
    }
    // empty input: no boundaries, no rows, schema intact
    val empty = Packing.groupRunningTotals(
      rows.filter(lit(false)), "grp", "id", col("v"), 8)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("doc_id", "grp", "v", "cum")
      || empty.columns.toSeq === Seq("doc_id", "grp", "value", "cum"))
  }

  test("tokenQuota: budget is an exact inclusive cap; oversized first doc dropped") {
    val rows = Seq((1L, "a", 40L), (2L, "a", 50L), (3L, "a", 20L),
      (4L, "b", 200L), (5L, "b", 10L)).toDF("id", "src", "n")
    val kept = Packing.tokenQuota(rows, "src", "id", col("n"), budget = 100L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // a: 40, 90, 110 -> keep 1, 2; b: first doc alone exceeds -> only id 5
    // is NOT kept either (cum 210 after the 200) — the oversized head blocks
    assert(kept === Seq(1L, 2L))
    val loose = Packing.tokenQuota(rows, "src", "id", col("n"), budget = 1000L)
    assert(loose.count() === 5L)
  }
}

class StratifiedSplitSpec extends SparkSpec {
  import spark.implicits._
  // force the distributed two-phase shape: these suites differential-test
  // it against the naive window twin, so the measured-small-input routing
  // (graft.Small.byEstimate) must not collapse both sides to one plan — per
  // test, so the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))
  import org.apache.spark.sql.functions._

  private lazy val rows = (1L to 237L).map(i => (i, s"lang${i % 4}"))
    .toDF("id", "lang")

  test("per-stratum proportions are exact: floor(n*cum) cuts, remainder to last") {
    val out = Sampling.stratifiedSplit(rows, "lang", "id",
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val got = out.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (l, g) =>
        l -> g.map(x => x._2 -> x._3).toMap }
    val sizes = rows.groupBy("lang").count().as[(String, Long)].collect().toMap
    val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
    for ((lang, n) <- sizes) {
      val c1 = math.floor(n * cums(0)).toLong
      val c2 = math.floor(n * cums(1)).toLong
      assert(got(lang).getOrElse("train", 0L) === c1, s"$lang train")
      assert(got(lang).getOrElse("val", 0L) === c2 - c1, s"$lang val")
      assert(got(lang).getOrElse("test", 0L) === n - c2, s"$lang test")
    }
  }

  test("assignment is deterministic under repartitioning and total") {
    val a = Sampling.stratifiedSplit(rows.repartition(11), "lang", "id",
      Seq(0.5, 0.5), Seq("a", "b")).orderBy("id").collect().toSeq
    val b = Sampling.stratifiedSplit(rows.repartition(3), "lang", "id",
      Seq(0.5, 0.5), Seq("a", "b"), partitions = 5).orderBy("id").collect().toSeq
    assert(a === b)
    assert(a.length === 237)
  }

  test("rejects mismatched or non-unit fractions") {
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(rows, "lang", "id", Seq(0.5), Seq("a", "b"))
    }
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(rows, "lang", "id", Seq(0.5, 0.4), Seq("a", "b"))
    }
  }
}

class TrainOrderSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = (1L to 500L).toDF("id")

  test("positions are a bijection onto 0..n-1") {
    val pos = Sampling.trainOrder(docs, "id", "epoch0")
      .select("pos").as[Long].collect().sorted
    assert(pos.toSeq === (0L until 500L))
  }

  test("order is a pure function of (key, salt): repartition-stable, salt-sensitive") {
    def orderOf(df: org.apache.spark.sql.DataFrame, salt: String) =
      Sampling.trainOrder(df, "id", salt).as[(Long, Long)].collect().toMap
    val base = orderOf(docs, "epoch0")
    assert(orderOf(docs.repartition(13), "epoch0") === base)
    assert(orderOf(docs, "epoch1") !== base) // a new epoch is a salt change
    // matches the naive single-window rank it replaces
    val naive = docs
      .withColumn("h", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws(":",
          org.apache.spark.sql.functions.lit("epoch0"), $"id".cast("string"))))
      .withColumn("pos", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"h", $"id")) - 1)
      .select($"id", $"pos".cast("long")).as[(Long, Long)].collect().toMap
    assert(base === naive)
  }
}

class PrefixRoutingSpec extends SparkSpec {
  import spark.implicits._

  // each phase here sets the cap it needs explicitly
  private def withCap[T](v: String)(f: => T): T =
    withConf(graft.Small.Key -> v)(f)

  lazy val rows = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")

  test("measured-small input takes the plain-window twin, same ranks") {
    // default 32 MB cap: a 300-row local relation is measured small, so
    // none of the bucket/offsets machinery appears in the plan
    val smallOut = withCap((32L << 20).toString) {
      val small = Packing.groupedRowNumbers(rows, Seq("grp"), Seq("id"), 8)
      assert(!small.queryExecution.executedPlan.toString.contains("__bkt"))
      small.select("id", "grp", "rank").as[(Long, String, Long)].collect().toSet
    }
    val distOut = withCap("0") {
      val dist = Packing.groupedRowNumbers(rows, Seq("grp"), Seq("id"), 8)
      assert(dist.queryExecution.executedPlan.toString.contains("__bkt"))
      dist.select("id", "grp", "rank").as[(Long, String, Long)].collect().toSet
    }
    assert(distOut === smallOut)
  }

  test("running totals route the same way and agree") {
    val vals = rows.withColumn("v", ($"id" % 7) + 1)
    val small = withCap((32L << 20).toString) {
      Packing.groupRunningTotals(vals, "grp", "id", col("v"), 8)
        .select("doc_id", "grp", "cum").as[(Long, String, Long)].collect().toSet
    }
    val dist = withCap("0") {
      Packing.groupRunningTotals(vals, "grp", "id", col("v"), 8)
        .select("doc_id", "grp", "cum").as[(Long, String, Long)].collect().toSet
    }
    assert(dist === small)
  }
}

class UnimaxSpec extends SparkSpec {
  import spark.implicits._

  /** The paper's sequential statement — the reference the closed-form
    * window implementation is differentially tested against.
    */
  private def seqUnimax(counts: Seq[(String, Long)], factor: Double,
      cap: Double): Map[String, Double] = {
    val total = counts.map(_._2).sum.toDouble
    var rem = factor * total
    var k = counts.length
    val out = scala.collection.mutable.Map[String, Double]()
    for ((l, n) <- counts.sortBy { case (l, n) => (n, l) }) {
      val b = math.min(cap * n, rem / k)
      out(l) = b; rem -= b; k -= 1
    }
    out.toMap
  }

  private def corpusOf(counts: Seq[(String, Long)]) =
    counts.flatMap { case (l, n) =>
      // weight arrives as per-doc char counts summing to n
      Seq((l, n / 2), (l, n - n / 2))
    }.zipWithIndex.map { case ((l, w), i) => (i.toLong, l, w) }
      .toDF("doc_id", "lang", "n_chars")

  test("closed form equals the sequential algorithm on random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val counts = (0 until 3 + rnd.nextInt(8))
        .map(i => (f"l$i%02d", 10L + rnd.nextInt(10000).toLong))
      val factor = 0.5 + rnd.nextDouble() * 2
      val cap = 1.0 + rnd.nextInt(4)
      val want = seqUnimax(counts, factor, cap)
      val got = Sampling.unimaxAllocation(corpusOf(counts), "lang",
          col("n_chars"), factor, cap)
        .select("lang", "budget_w").as[(String, Double)].collect().toMap
      for ((l, b) <- want)
        assert(math.abs(got(l) - b) < 1e-3,
          s"trial $trial lang $l: got ${got(l)}, want $b")
    }
  }

  test("caps bind on the tail and the freed budget flows to the head") {
    val counts = Seq(("tail1", 100L), ("tail2", 200L), ("head", 10000L))
    val r = Sampling.unimaxAllocation(corpusOf(counts), "lang",
        col("n_chars"), budgetFactor = 1.0, epochCap = 2.0)
      .select("lang", "capped", "epochs").as[(String, Boolean, Double)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r("tail1") === ((true, 2.0)))
    assert(r("tail2") === ((true, 2.0)))
    val (hc, he) = r("head")
    assert(!hc)
    // head absorbs the remainder: (10300 - 600) / 10000
    assert(math.abs(he - 0.97) < 1e-9)
  }

  test("a zero-weight language gets epochs 0, never NaN") {
    val df = Seq((0L, "empty", 0L), (1L, "empty", 0L), (2L, "full", 100L))
      .toDF("doc_id", "lang", "n_chars")
    val r = Sampling.unimaxAllocation(df, "lang", col("n_chars"), 1.0, 2.0)
      .select("lang", "epochs").as[(String, Double)].collect().toMap
    assert(r("empty") === 0.0)
    assert(!r.values.exists(_.isNaN))
    val per = Sampling.unimaxEpochs(df, "lang", "doc_id", col("n_chars"), 1.0, 2.0)
      .select("lang", "n_epochs").as[(String, Long)].collect()
    assert(per.filter(_._1 == "empty").forall(_._2 == 0L))
  }

  test("a budget above cap×corpus caps every language without dividing by zero") {
    val r = Sampling.unimaxAllocation(
        corpusOf(Seq(("a", 10L), ("b", 1000L))), "lang", col("n_chars"),
        budgetFactor = 10.0, epochCap = 3.0)
      .select("capped", "epochs").as[(Boolean, Double)].collect()
    assert(r.forall { case (c, e) => c && e === 3.0 })
  }

  test("unimaxTrainOrder: positions are a bijection and instances match n_epochs") {
    val counts = Seq(("x", 500L), ("y", 2000L))
    val per = Sampling.unimaxEpochs(corpusOf(counts), "lang", "doc_id",
        col("n_chars"), 1.2, 2.0)
      .select("doc_id", "n_epochs").as[(Long, Long)].collect().toMap
    val order = Sampling.unimaxTrainOrder(corpusOf(counts), "lang", "doc_id",
        col("n_chars"), 1.2, 2.0, salt = "s1")
      .select("doc_id", "rep", "pos").as[(Long, Long, Long)].collect()
    // bijection 0..N-1
    assert(order.map(_._3).sorted.toSeq === (0L until order.length).toSeq)
    // every doc contributes exactly its epoch count, reps 0..n-1
    val byDoc = order.groupBy(_._1)
    assert(per.filter(_._2 > 0).keySet === byDoc.keySet)
    byDoc.foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (0L until per(id)).toSeq)
    }
    // order is a pure function of (key, rep, salt)
    val again = Sampling.unimaxTrainOrder(corpusOf(counts).repartition(13),
        "lang", "doc_id", col("n_chars"), 1.2, 2.0, salt = "s1")
      .select("doc_id", "rep", "pos").as[(Long, Long, Long)].collect()
    assert(again.toSet === order.toSet)
  }

  test("epoch materialization stays within ⌊e⌋..⌈e⌉ and matches the allocation join") {
    val counts = Seq(("x", 500L), ("y", 2000L))
    val alloc = Sampling.unimaxAllocation(corpusOf(counts), "lang",
        col("n_chars"), 1.2, 2.0)
      .select("lang", "epochs").as[(String, Double)].collect().toMap
    val per = Sampling.unimaxEpochs(corpusOf(counts), "lang", "doc_id",
        col("n_chars"), 1.2, 2.0)
      .select("lang", "n_epochs").as[(String, Long)].collect()
    assert(per.forall { case (l, n) =>
      n == math.floor(alloc(l)).toLong || n == math.ceil(alloc(l)).toLong
    })
  }
}
